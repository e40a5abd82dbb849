"""Feature-hashed embeddings: DuckDB-twin parity, determinism, and
the composed text → vector → near-dup road."""

from __future__ import annotations

import pyspark.sql.functions as F

from extractthinker_spark.functions.embeddings import embed_documents

FIX = [
    (0, "Hello world hello AGAIN hello"),
    (1, ""),
    (2, None),
    (3, "unique tokens only here tonight"),
    (4, "Grüße aus München 123 42"),
]


def test_arrow_catalyst_parity_and_norm(spark):
    """embed_documents equals its DuckDB twin (_hashed_emb_sql) bit for
    bit: the accumulation is integer-valued, so the sqrt and the
    divisions see the same doubles. The twin has no NULL-text row, so
    NULL is pinned here as the zero vector."""
    import duckdb

    import __spark_entry__ as mod

    d = spark.createDataFrame(FIX, "doc_id long, text string")
    a = {r.doc_id: r.vec for r in embed_documents(d, dim=16).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", [r for r in FIX if r[1] is not None]
    )
    oracle = dict(con.execute(mod._hashed_emb_sql("docs", dim=16)).fetchall())
    assert {k: v for k, v in a.items() if k != 2} == oracle
    assert a[2] == [0.0] * 16
    # unit norm for token-bearing docs, zero vector otherwise
    for k, v in a.items():
        s = sum(x * x for x in v)
        if k in (1, 2):
            assert s == 0.0
        else:
            assert abs(s - 1.0) < 1e-9


def test_partition_invariance_and_seed(spark):
    d = spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body number "), F.col("id")).alias("text"),
    )
    v1 = {r.doc_id: r.vec for r in embed_documents(d.repartition(1), dim=32).collect()}
    v2 = {r.doc_id: r.vec for r in embed_documents(d.repartition(7), dim=32).collect()}
    assert v1 == v2
    v3 = {
        r.doc_id: r.vec
        for r in embed_documents(d, dim=32, seed="other").collect()
    }
    assert v3 != v1


def test_text_to_near_dup_road(spark):
    from extractthinker_spark.operators.similarity import cosine_near_dups

    # per-doc DISTINCT vocabulary (md5-derived 4-char tokens) so
    # cross-base cosine ≈ 0; copies share 8 of 10 tokens (cos ≈ 0.89)
    h = F.md5(F.col("id").cast("string").cast("binary"))
    base = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.substring(h, 1 + 4 * i, 4) for i in range(8)]
        ).alias("text"),
    )
    copies = base.filter(F.col("doc_id") < 8).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzed ygg")).alias("text"),
    )
    e = embed_documents(base.unionByName(copies), dim=64)
    pairs = cosine_near_dups(
        e, key="doc_id", vec_col="vec", threshold=0.8, exact=True
    ).collect()
    found = {(r.a, r.b) for r in pairs}
    # every planted (i, i+1000) pair present
    assert {(i, i + 1000) for i in range(8)} <= found
    # no same-base pair: distinct ids differ by the numeral token but
    # share most vocabulary — still below the duplicate threshold
    assert all(b - a == 1000 for a, b in found)


def test_composes_with_quantizer(spark):
    from extractthinker_spark.operators.similarity import quantize_embeddings

    d = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text number "), F.col("id")).alias("text"),
    )
    q = quantize_embeddings(embed_documents(d, dim=16), "vec").collect()
    assert all(len(r.qvec) == 16 for r in q)
    assert all(max(abs(x) for x in r.qvec) <= 127 for r in q)
