"""``Index.term_stats`` reads the segments' termstats on the driver with
pyarrow. Its rows must equal the Spark aggregate over ``Index.termstats()``
it replaced — same keys, same values, same Python types — on the full-field
and the per-term path, across tombstoned segments, ghost fields and an
empty index."""

import random

import pytest
from pyspark.sql import Row, functions as F

from whoosh_spark.index import Index, build_index, create_in
from whoosh_spark.schema import ID, TEXT, IndexSchema

VOCAB = "alfa bravo charlie delta echo foxtrot golf hotel".split()


def _spark_stats(ix, field):
    """The per-(field, term) Spark aggregate over every live segment."""
    ts = (ix.termstats().filter(F.col("field") == field).groupBy("term").agg(
        F.sum("df").alias("df"),
        F.sum("total_tf").alias("total_tf"),
        F.max("max_tf").alias("max_tf"),
        F.sum("total_w").alias("total_w"),
        F.min("min_len_byte").alias("min_len_byte"),
        F.max("max_len_byte").alias("max_len_byte"),
        F.min("min_id").alias("min_id"),
        F.max("max_id").alias("max_id"),
    ))
    return {r["term"]: r.asDict() for r in ts.collect()}


def _typed(rows):
    return {t: [(k, v, type(v)) for k, v in r.items()] for t, r in rows.items()}


@pytest.fixture(scope="module")
def ix_dir(spark, tmp_path_factory):
    """Two fields over three segments; the writer commits tombstone rows
    of the bulk segment and of the first commit's segment."""
    rng = random.Random(3)
    d = str(tmp_path_factory.mktemp("statsix"))
    schema = IndexSchema.of(path=ID(stored=True, unique=True), text=TEXT(),
                            title=TEXT())
    df = spark.createDataFrame([
        Row(doc_id=i, path=f"/p{i}",
            text=" ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 15))),
            title=rng.choice(VOCAB))
        for i in range(50)])
    build_index(spark, df, schema, d, sha_col=None)
    for r in range(2):
        w = Index(spark, d).writer()
        for i in range(4):
            w.add_document(path=f"/r{r}-{i}", text=f"alfa zulu{r}", title="kilo")
        w.update_document(path=f"/p{r}", text="bravo", title="lima")
        w.delete_document(20 + r)
        w.delete_document(50 + r)
        w.commit(merge=False)
    return d


@pytest.mark.parametrize("prefetch", [True, False], ids=["field", "per_term"])
def test_term_stats_equal_spark_aggregate(spark, ix_dir, monkeypatch, prefetch):
    if not prefetch:
        monkeypatch.setattr(Index, "PREFETCH_TERMS", 0)
    ix = Index(spark, ix_dir)
    assert sum(s.has_deletes for s in ix.manifest.segments) == 2
    for field in ("text", "title", "path"):
        want = _spark_stats(ix, field)
        assert want
        got = ix.term_stats(field, sorted(want) + ["nosuch"])
        assert _typed(got) == _typed(want), field
        assert ix.cached_terms(field) == (sorted(want) if prefetch else None)


def test_term_stats_ghost_field(spark, ix_dir, tmp_path):
    import shutil

    d = str(tmp_path / "ghost")
    shutil.copytree(ix_dir, d)
    ix = Index(spark, d)
    terms = sorted(_spark_stats(ix, "title"))
    ix.remove_field("title")
    assert _spark_stats(ix, "title") == {}
    assert ix.term_stats("title", terms) == {}
    assert ix.cached_terms("title") == []
    assert _typed(ix.term_stats("text", ["alfa"])) == _typed(
        {"alfa": _spark_stats(ix, "text")["alfa"]})


def test_term_stats_empty_index(spark, tmp_path):
    ix = create_in(spark, str(tmp_path / "empty"), IndexSchema.of(text=TEXT()))
    assert _spark_stats(ix, "text") == {}
    assert ix.term_stats("text", ["alfa"]) == {}
    assert ix.cached_terms("text") == []
