"""Scale hardening: salting, sub-batching round-trip, lineage metrics,
checkpoint/resume (north_rule §9 of SURVEY.md build plan)."""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
import pytest

from extractthinker_spark.corpus import corpus_pandas
from extractthinker_spark.plans.pipeline import extract_main_content
from extractthinker_spark.scale import (
    CheckpointedRun,
    doc_metrics,
    remerge_subbatches,
    salt_repartition,
    subbatch_oversized,
    task_metrics,
)
from extractthinker_spark.scale.checkpoint import WaveFailure
from extractthinker_spark.schemas import DOCUMENTS_SCHEMA

N_DOCS = 120


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        corpus_pandas(N_DOCS)[["doc_id", "spans"]], schema=DOCUMENTS_SCHEMA
    ).cache()


def _span_tuples(df):
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in rows
    }


def test_salt_repartition_spread_and_content(spark, docs):
    salted = salt_repartition(docs, 8, salt=7)
    assert salted.rdd.getNumPartitions() == 8
    sizes = (
        salted.select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    # Uniform-ish spread: no partition holds more than 3x the mean.
    assert max(counts) <= 3 * (N_DOCS / 8)
    assert _span_tuples(salted) == _span_tuples(docs)


def test_subbatch_roundtrip_preserves_order(spark, docs):
    sub = subbatch_oversized(docs, max_spans=3)
    # every sub-row bounded
    assert sub.filter(F.size("spans") > 3).count() == 0
    # mega docs actually split
    n_multi = sub.filter(F.col("n_subs") > 1).select("doc_id").distinct().count()
    assert n_multi > 0
    merged = remerge_subbatches(sub.select("doc_id", "sub_id", "spans"))
    assert _span_tuples(merged) == _span_tuples(docs)


def test_subbatch_then_extract_equals_direct(spark, docs):
    """Sub-batched extraction must equal whole-doc extraction exactly
    (the giant-doc path may not change results)."""
    direct = extract_main_content(docs)
    sub = subbatch_oversized(docs, max_spans=2)
    # transform each sub-row as its own "document", then re-merge and
    # re-sequence offsets per the pipeline's convention.
    sub2 = sub.select(
        F.col("doc_id").alias("orig_doc_id"),
        "sub_id",
        F.concat_ws("#", "doc_id", "sub_id").alias("doc_id"),
        "spans",
    )
    extracted = extract_main_content(
        sub2.select("doc_id", "spans"), nest=True
    ).join(
        sub2.select("doc_id", "orig_doc_id", "sub_id"), "doc_id"
    )
    merged = remerge_subbatches(
        extracted.select(
            F.col("orig_doc_id").alias("doc_id"), "sub_id", "spans"
        )
    )
    # re-sequence offsets 0..n-1 like the pipeline does
    merged = merged.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    assert _span_tuples(merged) == _span_tuples(direct)


def test_doc_and_task_metrics(spark, docs):
    dm = doc_metrics(docs)
    row = dm.agg(
        F.sum("n_spans").alias("s"), F.sum("n_bytes").alias("b")
    ).collect()[0]
    total_spans = docs.select(F.sum(F.size("spans"))).collect()[0][0]
    assert row["s"] == total_spans
    assert row["b"] > 0

    tm = task_metrics(salt_repartition(docs, 6))
    rows = tm.collect()
    assert sum(r["n_docs"] for r in rows) == N_DOCS
    assert sum(r["n_spans"] for r in rows) == total_spans
    assert len(rows) <= 6


def test_span_bytes_matches_python_utf8_sum(spark):
    schema = DOCUMENTS_SCHEMA["spans"].dataType
    rows = [
        ("null_spans", None),
        ("empty", []),
        ("null_text", [("text", None, None, 0), ("text", "abc", None, 1)]),
        ("null_ref", [("media", "cap", None, 0), ("media", None, "img/1.png", 1)]),
        ("null_elem", [None, ("text", "x", None, 1)]),
        ("multibyte", [("text", "héllo wörld", None, 0), ("text", "日本語", "é", 1)]),
        ("astral", [("text", "a\U0001F600b", "\U00020000", 0), ("text", "", "", 1)]),
    ]
    df = spark.createDataFrame(rows, f"doc_id string, spans {schema.simpleString()}")
    dm = doc_metrics(df)
    assert dm.schema["n_bytes"].dataType.simpleString() == "bigint"
    got = {r["doc_id"]: r["n_bytes"] for r in dm.collect()}

    def utf8(s):
        return 0 if s is None else len(s.encode("utf-8"))

    want = {
        doc_id: None
        if spans is None
        else sum(utf8(s[1]) + utf8(s[2]) for s in spans if s is not None)
        for doc_id, spans in rows
    }
    assert got == want
    assert want["empty"] == 0 and want["astral"] == 10
    plan = dm._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan


def test_checkpoint_resume(spark, docs, tmp_path):
    out_a = str(tmp_path / "single")
    out_b = str(tmp_path / "resumed")
    transform = lambda df: extract_main_content(df, nest=True)  # noqa: E731

    # Reference: one uninterrupted run.
    run_a = CheckpointedRun(out_a, n_buckets=8, wave_size=3, input_token="t1")
    stats_a = run_a.run(spark, docs, transform)
    assert stats_a["waves_run"] == 3
    expected = _span_tuples(run_a.read_output(spark))
    assert len(expected) == N_DOCS

    # Crash after the first wave, then resume.
    run_b = CheckpointedRun(out_b, n_buckets=8, wave_size=3, input_token="t1")
    with pytest.raises(WaveFailure):
        run_b.run(spark, docs, transform, _fail_after_waves=1)
    done_after_crash = run_b.done_buckets()
    assert 0 < len(done_after_crash) < 8
    # Record mtimes of committed bucket dirs — resume must not rewrite.
    mtimes = {
        b: os.path.getmtime(run_b._bucket_data_dir(b))
        for b in done_after_crash
        if os.path.isdir(run_b._bucket_data_dir(b))
    }
    stats_b = CheckpointedRun(
        out_b, n_buckets=8, wave_size=3, input_token="t1"
    ).run(spark, docs, transform)
    assert stats_b["skipped_buckets"] == len(done_after_crash)
    for b, m in mtimes.items():
        assert os.path.getmtime(run_b._bucket_data_dir(b)) == m

    resumed = _span_tuples(
        CheckpointedRun(out_b, n_buckets=8, input_token="t1").read_output(spark)
    )
    assert resumed == expected

    # Manifests carry lineage counts that sum to the corpus.
    manifests = run_b.manifests()
    assert sum(m["n_docs"] for m in manifests) == N_DOCS
    # A changed input_token invalidates every bucket.
    assert (
        CheckpointedRun(out_b, n_buckets=8, input_token="t2").done_buckets()
        == set()
    )


def _extract(df):
    return extract_main_content(df, nest=True)


def _failing_on_bucket(run, bucket):
    """A transform whose write job fails on the docs of ``bucket``."""

    def transform(df):
        bad = F.when(
            run.bucket_col() == bucket,
            F.raise_error(F.lit(f"injected failure in bucket {bucket}")),
        )
        return _extract(df.filter(bad.isNull()))

    return transform


def test_checkpoint_in_flight_failure_resumes(spark, docs, tmp_path):
    """Waves run two deep. A failure inside the second wave's compute
    commits nothing after the first wave: the failed wave and the wave
    behind it get no manifest. The resume rewrites none of the
    committed buckets and ends equal to an uninterrupted run."""
    single = CheckpointedRun(
        str(tmp_path / "single"), n_buckets=8, wave_size=3, input_token="t1"
    )
    single.run(spark, docs, _extract)
    expected = _span_tuples(single.read_output(spark))

    out = str(tmp_path / "crashed")
    run = CheckpointedRun(out, n_buckets=8, wave_size=3, input_token="t1")
    # waves: [0, 1, 2], [3, 4, 5], [6, 7]; bucket 4 fails wave 1
    with pytest.raises(Exception, match="injected failure in bucket 4"):
        run.run(spark, docs, _failing_on_bucket(run, 4))
    assert run.done_buckets() == {0, 1, 2}
    assert {m["wave"] for m in run.manifests()} == {0}
    # the wave behind the failed one was waited for, not left running
    assert not [
        t for t in threading.enumerate() if t.name.startswith("checkpoint-wave")
    ]
    mtimes = {
        b: os.path.getmtime(run._bucket_data_dir(b))
        for b in run.done_buckets()
        if os.path.isdir(run._bucket_data_dir(b))
    }

    # The resume cuts its waves differently ([3, 4], [5, 6], [7]): the
    # metrics the uncommitted wave [6, 7] wrote must not survive it.
    resumed = CheckpointedRun(out, n_buckets=8, wave_size=2, input_token="t1")
    stats = resumed.run(spark, docs, _extract)
    assert stats["skipped_buckets"] == 3 and stats["waves_run"] == 3
    assert not [n for n in os.listdir(out) if n.startswith("_tmp-wave-")]
    for b, m in mtimes.items():
        assert os.path.getmtime(run._bucket_data_dir(b)) == m
    assert _span_tuples(run.read_output(spark)) == expected
    assert sum(m["n_docs"] for m in run.manifests()) == N_DOCS
    metrics = run.read_metrics(spark)
    assert metrics.agg(F.sum("n_docs")).collect()[0][0] == N_DOCS


def test_checkpoint_manifests_commit_in_wave_order(spark, docs, tmp_path):
    run = CheckpointedRun(
        str(tmp_path / "run"), n_buckets=8, wave_size=2, input_token="t"
    )
    assert run.run(spark, docs, _extract)["waves_run"] == 4
    by_commit = sorted(
        run.manifests(),
        key=lambda m: os.stat(run._manifest_path(m["bucket"])).st_mtime_ns,
    )
    waves = [m["wave"] for m in by_commit]
    assert waves == sorted(waves) and set(waves) == {0, 1, 2, 3}
    for m in run.manifests():
        assert m["wave"] == m["bucket"] // 2


def test_checkpoint_empty_wave(spark, docs, tmp_path):
    """A wave whose transform filters out every doc commits empty
    buckets: manifests with zero counts, no data dirs, zero metrics."""
    run = CheckpointedRun(
        str(tmp_path / "run"), n_buckets=8, wave_size=4, input_token="t"
    )

    def first_wave_only(df):
        return _extract(df.filter(run.bucket_col() < 4))

    stats = run.run(spark, docs, first_wave_only)
    assert stats["waves_run"] == 2
    assert run.done_buckets() == set(range(8))
    empty = [m for m in run.manifests() if m["bucket"] >= 4]
    assert [m["n_docs"] for m in empty] == [0] * 4
    assert not any(
        os.path.isdir(run._bucket_data_dir(b)) for b in range(4, 8)
    )
    n_out = run.read_output(spark).count()
    assert n_out == stats["docs"] > 0
    metrics = run.read_metrics(spark)
    assert metrics.agg(F.sum("n_docs")).collect()[0][0] == n_out
    assert metrics.filter(F.col("wave") == 1).count() == 0


def test_checkpoint_quality_gate_rejecting_everything(spark, tmp_path):
    """--quality-gate with a threshold no document meets: every wave is
    empty, every bucket still commits, and the audit holds every doc."""
    import jobs.extract_job as job

    out = str(tmp_path / "gated")
    job.main([
        "--synthetic", "30", "--output", out, "--input-token", "q",
        "--n-buckets", "4", "--wave-size", "1", "--quality-gate",
        "--quality-thresholds", '{"min_words": 1000000}',
    ], stop=False)
    run = CheckpointedRun(out, n_buckets=4, wave_size=1, input_token="q")
    assert run.done_buckets() == {0, 1, 2, 3}
    assert sum(m["n_docs"] for m in run.manifests()) == 0
    audit = run.read_audit(spark, "quality")
    assert audit.count() == 30
    assert audit.filter(F.col("keep")).count() == 0


def test_checkpoint_labels_wave_jobs(spark, docs, tmp_path):
    """Each wave's jobs run under the job group and description
    ``checkpoint wave <n> buckets <lo>-<hi>``, set in the wave's own
    thread; a job group the caller already set is kept instead."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    labels = ["checkpoint wave 0 buckets 0-3", "checkpoint wave 1 buckets 4-5"]

    def jobs_of(group):
        return set(tracker.getJobIdsForGroup(group))

    before = {g: jobs_of(g) for g in labels}
    CheckpointedRun(
        str(tmp_path / "own"), n_buckets=6, wave_size=4, input_token="t"
    ).run(spark, docs, _extract)
    for g in labels:
        assert jobs_of(g) - before[g], g
    assert sc.getLocalProperty("spark.jobGroup.id") is None

    before = {g: jobs_of(g) for g in [*labels, "outer"]}
    sc.setJobGroup("outer", "outer")
    try:
        CheckpointedRun(
            str(tmp_path / "outer"), n_buckets=6, wave_size=4,
            input_token="t",
        ).run(spark, docs, _extract)
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for g in labels:
        assert jobs_of(g) == before[g], g
    assert jobs_of("outer") - before["outer"]
