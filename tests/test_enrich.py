"""Embedding enrichment (operators/enrich.py) — the reference's phase-3
loop: pending-work predicate, batched enrichment, idempotent re-run, and
equivalence of the JVM expression and the fused Arrow UDF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_source_legislation_spark.operators import enrich

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox", None),
        (1, "jumps over the lazy dog", None),
        (2, "already embedded row", [1.0, 0.0]),
        (3, "", None),
        (4, "the the the", None),
        # Unicode whitespace: JVM \s is ASCII-only, so \xa0 must NOT split
        # tokens in any Python variant either
        (5, "nb\xa0sp and thin", None),
    ]
    return spark.createDataFrame(rows, schema=SCHEMA)


def test_embed_pending_fills_only_nulls(docs):
    out = enrich.embed_pending(docs, dim=8).collect()
    by_id = {r["doc_id"]: r["embedding"] for r in out}
    assert by_id[2] == [1.0, 0.0]  # untouched passthrough
    assert all(by_id[i] is not None for i in (0, 1, 3, 4))
    # unit norm (floor-truncated, so <= 1 and close for non-empty docs)
    s = sum(v * v for v in by_id[0])
    assert 0.97 <= s <= 1.0
    assert by_id[3] == [0.0] * 8  # empty text → zero vector


def test_embed_pending_idempotent(docs):
    once = enrich.embed_pending(docs, dim=8)
    twice = enrich.embed_pending(once, dim=8)
    a = sorted(map(tuple, once.select("doc_id", "embedding").collect()))
    b = sorted(map(tuple, twice.select("doc_id", "embedding").collect()))
    assert [(i, tuple(e)) for i, e in a] == [(i, tuple(e)) for i, e in b]


def test_expr_and_mapinpandas_variants_agree(docs):
    expr = docs.drop("embedding").withColumn(
        "embedding", enrich.hash_embed_expr(F.col("text"), dim=16)
    )
    fused = docs.select(
        "doc_id",
        enrich.node_enrich_udf(dim=16)(F.col("text"), F.col("text"))
        .getField("embedding")
        .alias("embedding"),
    )
    a = {r["doc_id"]: tuple(r["embedding"]) for r in expr.collect()}
    b = {r["doc_id"]: tuple(r["embedding"]) for r in fused.collect()}
    assert a == b


def test_fused_node_enrich_matches_unfused(spark):
    """node_enrich_udf must equal the unfused pair it replaced in the
    pipeline: n_tokens = size(split(trim(lower(t)), '\\s+')) under the
    isNotNull guard, embedding = hash_embed_expr(coalesce(t, ''))."""
    rows = [
        (0, "the quick brown fox"),
        (1, ""),                      # JVM split('') -> [''] i.e. 1 token
        (2, None),                    # NULL text -> NULL count, zero vec
        (3, "  padded  spaces  "),
        (4, "line\nbreaks\tand tabs"),
        (5, "the the the"),
        (6, "nbsp\xa0inside and thin space"),  # Java \s is ASCII-only
    ]
    df = spark.createDataFrame(
        [(i, t, f"name {i}") for i, t in rows], schema="id long, t string, nm string"
    )
    unfused = df.select(
        "id",
        F.when(
            F.col("t").isNotNull(),
            F.size(F.split(F.trim(F.lower("t")), r"\s+")),
        ).alias("n_tokens"),
        enrich.hash_embed_expr(F.coalesce("t", F.lit("")), dim=16).alias("emb"),
        enrich.hash_embed_expr(F.col("nm"), dim=16).alias("nemb"),
    )
    fused = df.select(
        "id", enrich.node_enrich_udf(dim=16)(F.col("t"), F.col("nm")).alias("e")
    )
    a = {
        r["id"]: (r["n_tokens"], tuple(r["emb"]), tuple(r["nemb"]))
        for r in unfused.collect()
    }
    b = {
        r["id"]: (
            r["e"]["n_tokens"],
            tuple(r["e"]["embedding"]),
            tuple(r["e"]["name_embedding"]),
        )
        for r in fused.collect()
    }
    assert a == b
    # summary: first tokens of the lowered ASCII-ws split; NULL text -> NULL
    summ = {r["id"]: r["e"]["summary"] for r in fused.collect()}
    assert summ[0] == "the quick brown fox"
    assert summ[1] == ""
    assert summ[2] is None
    assert summ[3] == "padded spaces"
    # row 6 holds a literal U+2009 thin space: NOT an ASCII-\s boundary,
    # so it stays inside one token (matching the JVM split)
    assert summ[6] == rows[6][1].lower()


def test_deterministic_across_runs(docs):
    a = {r["doc_id"]: tuple(r["embedding"])
         for r in enrich.embed_pending(docs, dim=8).collect()}
    b = {r["doc_id"]: tuple(r["embedding"])
         for r in enrich.embed_pending(docs.repartition(5), dim=8).collect()}
    assert a == b
