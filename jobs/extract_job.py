"""Production entrypoint: the main-content extraction job.

Run with spark-submit (north_rule packaging):

    scripts/package_pyfiles.sh                       # -> dist/extractthinker_spark.zip
    spark-submit --py-files dist/extractthinker_spark.zip \
        jobs/extract_job.py \
        --input  /path/to/documents_parquet \
        --output /path/to/run_dir \
        --input-token snapshot-2026-08-16 \
        --n-buckets 4096 --wave-size 256

Semantics:
  * input: the interleaved corpus table (doc_id, spans) — parquet here,
    an Iceberg table on a real cluster (pass the table path; the scan
    is the same DataFrame);
  * the doc_id space is hashed into --n-buckets resume units and
    processed in waves (CheckpointedRun = emulated Iceberg snapshot
    commits): a killed run restarted with the same --output and
    --input-token skips every committed bucket;
  * waves run two deep — the next wave extracts and writes while the
    current one finishes its stats and commits — and commit strictly
    in order, so a killed run loses at most the two uncommitted waves
    in flight;
  * skew: the transform salts+repartitions on xxhash64(doc_id) before
    the per-kind extraction (--salt-partitions);
  * lineage + span/byte metrics are written per task per wave under
    <output>/_metrics (north_rule).

Use --synthetic N instead of --input to run on the deterministic
generated corpus (bench / smoke).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None, stop: bool = True) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet/Iceberg path of documents(doc_id, spans)")
    src.add_argument("--raw-input",
                     help="directory of RAW FILES (any sniffable format): "
                          "binaryFile scan -> sniff/decode -> spans, with "
                          "the filename extension as dispatch hint")
    src.add_argument("--warc-input",
                     help="directory of WARC crawl archives (.warc / "
                          ".warc.gz): response records explode to one "
                          "document per URI, then sniff/decode -> spans")
    src.add_argument("--synthetic", type=int, help="generate N synthetic docs instead")
    ap.add_argument("--output", required=True, help="run directory (data+manifests+metrics)")
    ap.add_argument("--input-token", default="", help="input snapshot identity for resume")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--wave-size", type=int, default=16)
    ap.add_argument("--salt-partitions", type=int, default=0,
                    help="salted repartition width before extraction (0 = skip)")
    ap.add_argument("--quality-gate", action="store_true",
                    help="drop documents failing the Gopher quality gate "
                         "(over STRIPPED content); reject reasons are "
                         "written per wave under <output>/_metrics/"
                         "quality-wave-N and ride the same resume "
                         "semantics as the data")
    ap.add_argument("--quality-thresholds", default=None,
                    help="JSON dict of Gopher threshold overrides, "
                         "e.g. '{\"min_words\": 20}'")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from extractthinker_spark.plans.pipeline import extract_main_content
    from extractthinker_spark.scale.checkpoint import CheckpointedRun
    from extractthinker_spark.scale.skew import salt_repartition
    from extractthinker_spark.session import get_spark

    spark = get_spark("extract-job", master=args.master)

    if args.input:
        documents = spark.read.parquet(args.input)
    elif args.raw_input:
        import pyspark.sql.functions as F

        from extractthinker_spark.operators.rawbytes import parse_raw_bytes

        raw = (
            spark.read.format("binaryFile")
            .load(args.raw_input)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1).alias("doc_id"),
                F.col("path").alias("source_uri"),
                F.col("content").alias("raw"),
            )
        )
        documents = parse_raw_bytes(raw, uri_col="source_uri").select(
            "doc_id", "spans"
        )
    elif args.warc_input:
        import pyspark.sql.functions as F

        from extractthinker_spark.operators.warc import warc_to_documents

        warcs = (
            spark.read.format("binaryFile")
            .load(args.warc_input)
            .select(
                F.element_at(F.split(F.col("path"), "/"), -1)
                .alias("doc_id"),
                F.col("content").alias("raw"),
            )
        )
        documents = warc_to_documents(warcs).select("doc_id", "spans")
    else:
        from extractthinker_spark.corpus import corpus_spark

        documents = corpus_spark(spark, args.synthetic)

    gate_thresholds = (
        json.loads(args.quality_thresholds)
        if args.quality_thresholds else None
    )

    # Per-wave memo: CheckpointedRun passes the SAME wave_in object to
    # transform() and audit(), so stashing the (ext, verdict) pair ON
    # that object lets the gated path extract and judge each wave ONCE
    # (localCheckpoint materializes the shared stage; without it the
    # output plan, the keep-filter, and the audit would each recompute
    # extraction — ~3x the wave's dominant cost). The memo lives and
    # dies with the wave's DataFrame — an id()-keyed dict could alias
    # a later wave onto a dead wave's entry after GC reuses the id —
    # and so needs no lock: two waves are in flight at once, each on
    # its own thread with its own wave_in, and a wave's transform()
    # and audit() both run on that wave's thread.

    def _extracted_and_verdict(df, salted):
        memo = getattr(df, "_etspark_gate_memo", None)
        if memo is None:
            import pyspark.sql.functions as F

            from extractthinker_spark.functions.textstats import gopher_filter
            from extractthinker_spark.plans.pipeline import doc_text

            ext = extract_main_content(salted, nest=True).localCheckpoint()
            verdict = gopher_filter(
                doc_text(ext).select(
                    "doc_id", F.col("content").alias("text")
                ),
                thresholds=gate_thresholds,
            ).localCheckpoint()
            memo = (ext, verdict)
            df._etspark_gate_memo = memo
        return memo

    def transform(df):
        # The flagship pipeline is span-granular after explode, so skew
        # is handled by the salted repartition (mega-doc sub-batching,
        # scale/skew.py, applies to doc-granular Arrow stages like the
        # eager splitter — not needed here: the re-nest collect must
        # see the whole document anyway).
        salted = (
            salt_repartition(df, args.salt_partitions)
            if args.salt_partitions else df
        )
        if not args.quality_gate:
            return extract_main_content(salted, nest=True)
        import pyspark.sql.functions as F

        ext, verdict = _extracted_and_verdict(df, salted)
        keep = verdict.filter(F.col("keep")).select("doc_id")
        return ext.join(keep, "doc_id")

    audit = None
    if args.quality_gate:
        def audit(df):
            _, verdict = _extracted_and_verdict(df, df)
            return verdict.select(
                "doc_id", "keep", "reject_reason", "n_words",
            )

    run = CheckpointedRun(
        args.output,
        n_buckets=args.n_buckets,
        wave_size=args.wave_size,
        input_token=args.input_token,
    )
    t0 = time.time()
    stats = run.run(spark, documents, transform, audit=audit,
                    audit_name="quality")
    stats["wall_s"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    if stop:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
