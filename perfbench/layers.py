"""The traced run: every layer's public function, timed on its own.

Each layer gets the rows its workload's journey feeds it. A layer off
the journey (``Workload.layers``) is called on an empty input of the
same schema, so its rows read 0 and its wall time is the fixed cost of
one call. Every input is materialised (``localCheckpoint``) before its
span opens; every output is forced with a ``noop`` sink inside it.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import Window

import inputs
from tracing import Tracer, force
from workloads import Curate, Extract, ProcessRaw, Workload

def _mat(df):
    return df.localCheckpoint()


def _empty_like(df):
    return df.limit(0).localCheckpoint()


def _dir_stats(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size / 1e6


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def traced_layers(spark, tr: Tracer, w: Workload) -> dict[str, float]:
    from extractthinker_spark.api import Extractor
    from extractthinker_spark.contracts import (
        CONTRACT_FIELDS,
        CONTRACT_LIST_FIELDS,
        UNKNOWN,
    )
    from extractthinker_spark.functions.pii import pii_scrub_frame
    from extractthinker_spark.functions.textstats import (
        fingerprint,
        strip_control_chars,
    )
    from extractthinker_spark.operators.dedup import (
        dedup_lines_corpus,
        dedup_near_canonical,
        minhash_lsh_candidates,
        minhash_signatures_df,
        verify_jaccard,
    )
    from extractthinker_spark.operators.extract import paginate_extract
    from extractthinker_spark.operators.parse_core import (
        explode_spans,
        nest_spans,
    )
    from extractthinker_spark.operators.parse_html import strip_html_udf
    from extractthinker_spark.operators.rawbytes import parse_raw_bytes
    from extractthinker_spark.operators.split import (
        pages_from_documents,
        split_lazy_pages,
    )
    from extractthinker_spark.plans.pipeline import (
        doc_text,
        extract_main_content,
        extract_spans_flat,
    )
    from extractthinker_spark.scale.checkpoint import CheckpointedRun

    on = w.layers
    m: dict[str, float] = {}
    scratch = os.path.join(w.work, "traced")

    def fed(layer: str, df):
        return _mat(df) if layer in on else _empty_like(df)

    # -- operators.rawbytes ------------------------------------------------
    empty_raw = os.path.join(scratch, "empty-raw")
    inputs.write_table([], inputs.RAW_SCHEMA, empty_raw, 1)
    raw = _mat(spark.read.parquet(w.inp if "rawbytes" in on else empty_raw))
    got = force(
        tr, "operators.rawbytes.parse_raw_bytes", parse_raw_bytes(raw),
        F.sum(F.size("spans")).alias("spans"),
        F.sum(F.col("format").startswith("corrupt:").cast("int")).alias("errors"),
    )
    size = raw.agg(F.count(F.lit(1)), F.sum(F.length("raw"))).first()
    m["operators.rawbytes.parse_raw_bytes.wall_s"] = tr.self_s("operators.rawbytes.parse_raw_bytes")
    m["operators.rawbytes.docs_in"] = size[0]
    m["operators.rawbytes.mb_in"] = (size[1] or 0) / 1e6
    m["operators.rawbytes.spans_out"] = got["spans"]
    m["operators.rawbytes.error_rows"] = got["errors"]

    # -- the span table every journey extracts from ------------------------
    if "rawbytes" in on:
        docs = _mat(parse_raw_bytes(raw).select("doc_id", "spans"))
    else:
        docs = _mat(spark.read.parquet(w.inp))

    # -- operators.parse_core / parse_html / plans.pipeline ---------------
    got = force(tr, "operators.parse_core.explode_spans", explode_spans(docs))
    m["operators.parse_core.explode_spans.wall_s"] = tr.self_s("operators.parse_core.explode_spans")
    m["operators.parse_core.explode_spans.rows_out"] = got["rows"]

    flat = _mat(explode_spans(docs))
    is_html = F.col("kind") == "html"
    got = force(
        tr, "operators.parse_html.strip_html_udf",
        flat.select("kind", strip_html_udf(F.when(is_html, F.col("text"))).alias("t")),
        F.sum(is_html.cast("int")).alias("html"),
    )
    m["operators.parse_html.strip_html_udf.wall_s"] = tr.self_s("operators.parse_html.strip_html_udf")
    m["operators.parse_html.strip_html_udf.rows_in"] = got["html"]
    m["operators.parse_html.useful_ratio"] = _ratio(got["html"], got["rows"])

    ext_flat = _mat(extract_spans_flat(docs))
    force(tr, "operators.parse_core.nest_spans", nest_spans(ext_flat))
    m["operators.parse_core.nest_spans.wall_s"] = tr.self_s("operators.parse_core.nest_spans")

    force(tr, "plans.pipeline.extract_main_content", extract_main_content(docs))
    m["plans.pipeline.extract_main_content.wall_s"] = tr.self_s("plans.pipeline.extract_main_content")
    extracted = _mat(extract_main_content(docs))
    force(tr, "plans.pipeline.doc_text", doc_text(extracted))
    m["plans.pipeline.doc_text.wall_s"] = tr.self_s("plans.pipeline.doc_text")
    merged = _mat(doc_text(extracted))

    # -- the parquet sink and scale.checkpoint (commit cost alone) --------
    sink_in = fed("sink", extracted)
    with tr.span("sink.parquet_write"):
        sink_in.write.mode("overwrite").parquet(os.path.join(scratch, "sink"))
    m["sink.parquet_write.wall_s"] = tr.self_s("sink.parquet_write")

    ck_dir = os.path.join(scratch, "checkpoint")
    run = CheckpointedRun(ck_dir, input_token=f"seed-{w.seed}")
    ck_in = fed("checkpoint", extracted)
    with tr.span("scale.checkpoint.run"):
        stats = run.run(spark, ck_in, lambda df: df)
    files, mb = _dir_stats(ck_dir)
    m["scale.checkpoint.run.wall_s"] = tr.self_s("scale.checkpoint.run")
    m["scale.checkpoint.waves"] = stats["waves_run"]
    m["scale.checkpoint.buckets_committed"] = len(run.manifests())
    m["scale.checkpoint.files_written"] = files
    m["scale.checkpoint.mb_written"] = mb

    # -- operators.split / classify / extract ------------------------------
    split_docs = fed("split", docs)
    got = force(tr, "operators.split.pages_from_documents", pages_from_documents(split_docs))
    m["operators.split.pages_from_documents.wall_s"] = tr.self_s("operators.split.pages_from_documents")
    m["operators.split.pages_from_documents.rows_out"] = got["rows"]
    pages = _mat(pages_from_documents(split_docs))
    force(tr, "operators.split.split_lazy_pages", split_lazy_pages(pages))
    grouped = _mat(split_lazy_pages(pages))
    m["operators.split.split_lazy_pages.wall_s"] = tr.self_s("operators.split.split_lazy_pages")
    m["operators.split.split_lazy_pages.groups_out"] = (
        grouped.select("doc_id", "group_id").distinct().count()
    )

    cls_in = fed("classify", merged)
    got = force(
        tr, "operators.classify.classify_keyword", Extractor().classify(cls_in),
        F.sum((F.col("classification") != UNKNOWN).cast("int")).alias("named"),
    )
    m["operators.classify.classify_keyword.wall_s"] = tr.self_s("operators.classify.classify_keyword")
    m["operators.classify.useful_ratio"] = _ratio(got["named"], got["rows"])

    keys = ["doc_id", "group_id"]
    fields_df = paginate_extract(
        fed("extract", grouped), keys=keys,
        contracts=CONTRACT_FIELDS, list_contracts=CONTRACT_LIST_FIELDS,
    )
    got = force(tr, "operators.extract.paginate_extract", fields_df)
    m["operators.extract.paginate_extract.wall_s"] = tr.self_s("operators.extract.paginate_extract")
    m["operators.extract.fields_out"] = got["rows"]
    slots, filled = 0, set()
    for g in grouped.select(*keys, "classification").distinct().collect():
        cls = g["classification"]
        slots += len(CONTRACT_FIELDS.get(cls, {})) + len(CONTRACT_LIST_FIELDS.get(cls, {}))
    for r in fields_df.select(*keys, "contract", "field").collect():
        base = r["field"]
        if base not in CONTRACT_FIELDS.get(r["contract"], {}):
            base = base.rsplit("_", 1)[0]
        filled.add((r["doc_id"], r["group_id"], base))
    m["operators.extract.useful_ratio"] = _ratio(len(filled), slots)

    # -- functions.textstats / functions.pii / operators.dedup ------------
    # the curate funnel's stages in its order, each on the previous
    # stage's materialised output
    text = fed("textstats", merged.select("doc_id", F.col("content").alias("text")))
    force(
        tr, "functions.textstats.strip_control_chars",
        text.select("doc_id", strip_control_chars(F.col("text")).alias("text")),
    )
    m["functions.textstats.strip_control_chars.wall_s"] = tr.self_s("functions.textstats.strip_control_chars")
    clean = _mat(text.select("doc_id", strip_control_chars(F.col("text")).alias("text")))

    force(tr, "functions.pii.pii_scrub_frame", pii_scrub_frame(clean))
    m["functions.pii.pii_scrub_frame.wall_s"] = tr.self_s("functions.pii.pii_scrub_frame")
    scrubbed = _mat(pii_scrub_frame(clean).select("doc_id", F.col("text_scrubbed").alias("text")))

    w_fp = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    exact_df = (
        scrubbed.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    got = force(tr, "functions.textstats.fingerprint", exact_df)
    m["functions.textstats.fingerprint.wall_s"] = tr.self_s("functions.textstats.fingerprint")
    m["functions.textstats.fingerprint.rows_out"] = got["rows"]
    exact = _mat(exact_df)

    with tr.span("operators.dedup.minhash_lsh_candidates"):
        force(tr, "operators.dedup.minhash_signatures_df",
              minhash_signatures_df(exact, "doc_id", "text"))
        cands_df = minhash_lsh_candidates(exact, "doc_id", "text")
        n_cands = cands_df.count()
    m["operators.dedup.minhash_signatures_df.wall_s"] = tr.self_s("operators.dedup.minhash_signatures_df")
    m["operators.dedup.minhash_lsh_candidates.wall_s"] = tr.self_s("operators.dedup.minhash_lsh_candidates")
    m["operators.dedup.minhash_lsh_candidates.pairs_out"] = n_cands
    cands = _mat(cands_df)

    got = force(tr, "operators.dedup.verify_jaccard", verify_jaccard(cands, exact, "doc_id", "text"))
    m["operators.dedup.verify_jaccard.wall_s"] = tr.self_s("operators.dedup.verify_jaccard")
    m["operators.dedup.verify_jaccard.pairs_out"] = got["rows"]
    m["operators.dedup.lsh_precision"] = _ratio(got["rows"], n_cands)
    pairs = _mat(verify_jaccard(cands, exact, "doc_id", "text"))

    got = force(
        tr, "operators.dedup.dedup_near_canonical",
        dedup_near_canonical(exact, pairs, key="doc_id"),
        F.sum(F.col("is_canonical").cast("int")).alias("kept"),
    )
    m["operators.dedup.dedup_near_canonical.wall_s"] = tr.self_s("operators.dedup.dedup_near_canonical")
    m["operators.dedup.dedup_near_canonical.rows_out"] = got["kept"]
    canon = dedup_near_canonical(exact, pairs, key="doc_id")
    near = _mat(exact.join(canon.filter(F.col("is_canonical")).select("doc_id"), "doc_id"))

    got = force(tr, "operators.dedup.dedup_lines_corpus", dedup_lines_corpus(near))
    m["operators.dedup.dedup_lines_corpus.wall_s"] = tr.self_s("operators.dedup.dedup_lines_corpus")
    m["operators.dedup.dedup_lines_corpus.rows_out"] = got["rows"]

    # -- the other journeys, on an empty input table -----------------------
    empty_spans = os.path.join(scratch, "empty-spans")
    inputs.write_table([], inputs.SPANS_SCHEMA, empty_spans, 1)
    for cls, empty in ((Extract, empty_spans), (ProcessRaw, empty_raw), (Curate, empty_spans)):
        if cls.journey == w.journey:
            continue
        stand_in = cls(os.path.join(scratch, cls.name), w.seed)
        with tr.span(cls.journey):
            stand_in.run(spark, inp=empty)
        m[f"{cls.journey}.wall_s"] = tr.self_s(cls.journey)
    shutil.rmtree(scratch, ignore_errors=True)
    return m
