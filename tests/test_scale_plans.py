"""Physical-plan assertions: the plans must stay the plans we designed.

These tests read .explain output — they pin the scale properties
(shuffle-free co-located joins, partition pruning, pushdown, UDF
masking) rather than row values.
"""

from __future__ import annotations

import io
import sys

import pyspark.sql.functions as F
import pytest

from extractthinker_spark.corpus import corpus_spark
from extractthinker_spark.plans.pipeline import extract_main_content
from extractthinker_spark.scale.bucketing import colocated_join, write_bucketed
from extractthinker_spark.scale.checkpoint import CheckpointedRun


def _plan(df, mode: str = "formatted") -> str:
    buf, old = io.StringIO(), sys.stdout
    sys.stdout = buf
    try:
        df.explain(mode)
    finally:
        sys.stdout = old
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    docs = corpus_spark(spark, 200).select("doc_id", F.size("spans").alias("n"))
    meta = docs.select("doc_id", (F.col("n") * 2).alias("m"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(docs, "t_docs", buckets=8, path=str(tmp_path / "d"))
        write_bucketed(meta, "t_meta", buckets=8, path=str(tmp_path / "m"))
        joined = colocated_join(spark, "t_docs", "t_meta")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: zero shuffles
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_docs")
        spark.sql("DROP TABLE IF EXISTS t_meta")


def test_checkpoint_output_partition_pruning(spark, tmp_path):
    docs = corpus_spark(spark, 80)
    run = CheckpointedRun(str(tmp_path / "run"), n_buckets=8, wave_size=8,
                          input_token="t")
    run.run(spark, docs, lambda df: extract_main_content(df, nest=True))
    out = run.read_output(spark).filter(F.col("bucket") == 3)
    plan = _plan(out)
    # partition filter reaches the scan: only bucket=3 directories read
    assert "PartitionFilters" in plan and "bucket" in plan
    n3 = out.count()
    total = run.read_output(spark).count()
    assert 0 < n3 < total


def test_pipeline_udf_masked_single_python_node(spark):
    docs = corpus_spark(spark, 50)
    plan = _plan(extract_main_content(docs, nest=True), "simple")
    # exactly one Python boundary (the masked html-strip UDF)
    assert plan.count("ArrowEvalPython") == 1, plan
    # exactly one shuffle (the re-nest groupBy)
    assert plan.count("Exchange") == 1, plan


def test_parquet_scan_prunes_and_pushes(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = d.filter(F.col("doc_id") < 10).select("doc_id", F.length("text").alias("n"))
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan
    # column pruning: only doc_id+text in ReadSchema, not lang/source/n_chars
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "lang" not in read_schema


def test_split_extract_shuffle_budget(spark):
    """The split+extract job must keep its shuffle budget: one exchange
    for the per-doc windows (split) and two for the merge windows
    (dedup-by-value, re-index) — regressions to the join-based /
    two-branch formulations doubled this."""
    from extractthinker_spark.operators.extract import paginate_extract
    from extractthinker_spark.operators.split import (
        pages_from_documents,
        split_lazy_pages,
    )

    docs = corpus_spark(spark, 60)
    grouped = split_lazy_pages(pages_from_documents(docs))
    out = paginate_extract(grouped, keys=["doc_id"])
    plan = _plan(out, "simple")
    assert plan.count("Exchange") <= 3, plan


def test_detect_format_bytes_plan_is_jvm_only(spark):
    """Raw-bytes sniffing must stay a narrow codegen'd map: no
    Exchange, no Python evaluation node in the plan."""
    from extractthinker_spark.operators.rawbytes import detect_format_bytes

    df = spark.createDataFrame([("a", b"%PDF-x")], "doc_id string, raw binary")
    plan = _plan(df.select("doc_id", detect_format_bytes(F.col("raw")).alias("f")))
    assert "Exchange" not in plan, plan
    # no Python EVALUATION nodes (the local-data scan's
    # applySchemaToPythonRDD description is not one)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_classify_media_plan_single_python_stage_no_shuffle(spark):
    """Vision classification = one Arrow mapInPandas (features) + JVM
    scoring expressions; the class dim is a literal, so no join and no
    shuffle appear."""
    from extractthinker_spark.operators.media import (
        classify_media,
        media_signature,
    )

    df = spark.createDataFrame([("a", b"\x01\x02")], "doc_id string, raw binary")
    classes = [(n, media_signature(n)) for n in ("X", "Y")]
    plan = _plan(classify_media(df, classes))
    assert "Exchange" not in plan, plan
    # exactly one Python stage (the feature extractor); scoring/argmax
    # are JVM expressions. "formatted" prints each node in the tree AND
    # the detail list, so count the detail headers.
    assert plan.count("MapInPandas (") == 1, plan
    assert "Join" not in plan, plan


def test_vector_scoring_plans_have_no_lambda_cosine(spark):
    """Every exact cosine is the one Arrow kernel: the plans of the LSH
    top-k, the LSH near-dup join and the int8 re-rank hold its
    ArrowEvalPython node, once (a threshold filter on the score must
    not clone it), and no zip_with/aggregate lambda fold over the
    scored vectors (the int8 codec's own amax/transform lambdas are
    not a cosine). classify_media scores with plain codegen'd
    arithmetic: no lambda, no Arrow evaluation node."""
    import re

    from extractthinker_spark.operators.media import (
        classify_media,
        media_signature,
    )
    from extractthinker_spark.operators.similarity import (
        ann_topk_lsh,
        ann_topk_quantized,
        cosine_near_dups,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(6)],
        "vec_id int, embedding array<double>",
    )
    queries = vecs.filter(F.col("vec_id") < 2)
    for df in (
        ann_topk_lsh(vecs, queries, k=2, dim=3),
        cosine_near_dups(vecs, dim=3),
        ann_topk_quantized(vecs, queries, key="vec_id", vec_col="embedding"),
    ):
        plan = _plan(df, "simple")
        assert plan.count("ArrowEvalPython [_cos(") == 1, plan
        assert "zip_with" not in plan, plan
        assert not re.search(r"aggregate\((av|bv|qv|cv|nv)#", plan), plan

    media = spark.createDataFrame([("a", b"\x01\x02")], "doc_id string, raw binary")
    classes = [(n, media_signature(n)) for n in ("X", "Y")]
    plan = _plan(classify_media(media, classes))
    assert "lambdafunction" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_substring_dedup_plan_single_extend_stage(spark):
    """Plan regression for the round-5 fix: the extend-and-verify
    Arrow UDF must appear EXACTLY once — CollapseProject used to clone
    it per struct-field access and the old span self-union re-executed
    the whole pipeline per branch (4 stages total)."""
    from extractthinker_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 3),
         (2, "alpha beta gamma delta epsilon zeta eta theta " * 3)],
        "doc_id int, text string",
    )
    plan = _plan(substring_dup_spans(df, min_len=40))
    assert plan.count("ArrowEvalPython (") == 1 or (
        # anchor stage is a pandas_udf too: allow anchor + extend = 2,
        # never more (anchors appear twice pre-ReusedExchange at tiny
        # scale, so count the _extend projections specifically)
        plan.count("_extend") <= 2
    ), plan
    # the span fan-out is a generator (explode), not a Union of two
    # re-executions of the join subtree
    assert "Union" not in plan, plan
