"""Production entrypoint: the full training-corpus curation pipeline.

The RefinedWeb/Gopher-style funnel in one spark-submit — every stage
is an operator this engine already exposes, chained over the EXTRACTED
main text with one localCheckpoint per major stage (bounded lineage;
the iterative/near-dup stages re-optimize catastrophically otherwise):

    extract -> unicode hygiene -> C4 gate -> Gopher gate ->
    language filter -> PII scrub -> exact dedup -> MinHash near-dup
    canonical keep-list -> corpus line dedup -> [exact-substring
    scrub] -> [decontamination] -> [per-host cap] ->
    [sequence packing] -> write

Run:

    scripts/package_pyfiles.sh
    spark-submit --py-files dist/extractthinker_spark.zip \
        jobs/curate_job.py \
        --input /path/to/documents_parquet --output /path/to/run \
        --languages en,de --substring-dedup

Outputs under --output:
  * ``data/``            — curated (doc_id, text) parquet;
  * ``_audit/funnel.json`` — ``funnel``: per-stage surviving-document
    counts (the curation dashboard number everyone asks for first);
    ``stage_wall_s``: wall seconds per stage, measured from the end of
    the previous stage, so lazy steps (hygiene, PII) count in the
    stage that materializes them;
  * ``_audit/host_stats/`` — per-host stats parquet when --url-input
    is given.

Every counted stage ends in ONE eager localCheckpoint, and its row
count is an ``Observation`` on that same pass (no ``count()`` job
after it; the packed-sequence count rides on its parquet write the
same way). Each stage labels its Spark jobs ``curate: <stage>`` with
a job description only, so a job group set by the caller (a traced
run) keeps owning them.

Near-dup (stage 8, ``near_dedup``) shingles each document once: one
Arrow pass yields its MinHash signature and its exact shingle set as
sorted integer codes. Candidate pairs carry ids only, the Jaccard
verify intersects the integer codes in the JVM, the verified pairs
are collected once (bounded) and resolved by union-find on the
driver, and the non-canonical ids leave by a broadcast anti-join.

Every gate writes its verdict COUNTS, never silently drops (the
repo-wide rule). Extraction dominates cost; for resumable extraction
at 10^12 docs run jobs/extract_job.py first (CheckpointedRun buckets)
and point --input at its output — the curation stages here are cheap
relative to extraction and safe to re-run whole.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


class _Funnel:
    """The funnel's bookkeeping: surviving rows and wall seconds per
    stage, and a job description per stage.

    ``begin(stage)`` closes the previous stage's clock and labels the
    jobs that follow ``curate: <stage>`` — a description only, so a
    job group the caller set (a traced run's span) still owns them.
    ``checkpoint`` materializes a stage with an eager localCheckpoint
    and reads its row count from an ``Observation`` on that same
    pass: no ``count()`` job after it."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.rows: dict[str, int] = {}
        self.wall_s: dict[str, float] = {}
        self._desc = self.sc.getLocalProperty("spark.job.description")
        self._stage: str | None = None
        self._t = time.perf_counter()

    def begin(self, stage: str) -> None:
        self._close()
        self._stage = stage
        self.sc.setJobDescription(f"curate: {stage}")

    def _close(self) -> None:
        now = time.perf_counter()
        if self._stage is not None:
            self.wall_s[self._stage] = round(now - self._t, 3)
        self._t = now

    def end(self) -> None:
        self._close()
        self._stage = None
        self.sc.setJobDescription(self._desc)

    def done(self, stage: str, rows: int) -> None:
        self.rows[stage] = rows

    def checkpoint(self, df):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        obs = Observation(f"curate {self._stage}")
        out = df.observe(
            obs, F.count(F.lit(1)).alias("rows")
        ).localCheckpoint()
        self.done(self._stage, obs.get["rows"])
        return out

    def write(self, df, path: str) -> None:
        """Parquet write of ``df``; its row count is observed on the
        write itself."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        obs = Observation(f"curate {self._stage}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
        self.done(self._stage, obs.get["rows"])


def near_dedup(text, stages: _Funnel):
    """Stage 8: drop every near-duplicate but its cluster's smallest
    doc_id. One shingle pass per document feeds the LSH candidates
    and the exact integer Jaccard verify (``dedup_minhash``);
    ``connected_components`` collects the verified pairs once and
    labels them by union-find on the driver, and the non-canonical
    ids (``node != comp``) leave by a broadcast anti-join inside the
    stage's eager checkpoint."""
    import pyspark.sql.functions as F

    from extractthinker_spark.operators.dedup import (
        connected_components,
        dedup_minhash,
    )

    stages.begin("after_near_dedup")
    comps = connected_components(dedup_minhash(text, "doc_id", "text"))
    dropped = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return stages.checkpoint(
        text.join(F.broadcast(dropped), "doc_id", "left_anti")
    )


def main(argv: list[str] | None = None, stop: bool = True) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="documents parquet (doc_id, spans)")
    src.add_argument("--synthetic", type=int, help="generate N docs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--languages", default=None,
                    help="comma-separated lang codes to keep (e.g. en,de)")
    ap.add_argument("--url-input", default=None,
                    help="(doc_id, url) parquet for the per-host cap")
    ap.add_argument("--max-per-host", type=int, default=100000)
    ap.add_argument("--substring-dedup", action="store_true",
                    help="run the exact-substring scrub (3rd dedup layer)")
    ap.add_argument("--substring-min-len", type=int, default=60)
    ap.add_argument("--decontam-input", default=None,
                    help="benchmark/eval-set parquet with a `text` "
                         "column: drop docs sharing any word n-gram")
    ap.add_argument("--decontam-ngram", type=int, default=13)
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="pack the curated corpus into training "
                         "sequences of this token budget (writes "
                         "<output>/sequences)")
    ap.add_argument("--pack-groups", type=int, default=64)
    ap.add_argument("--pack-mode", choices=("greedy", "chop"),
                    default="greedy",
                    help="greedy = atomic docs, first-fit; chop = "
                         "GPT-style concat-and-chop (docs split "
                         "across exactly-full sequences)")
    ap.add_argument("--no-c4", action="store_true")
    ap.add_argument("--no-gopher", action="store_true")
    ap.add_argument("--nfkc", action="store_true",
                    help="NFKC-normalize text before the gates")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    import pyspark.sql.functions as F

    from extractthinker_spark.functions.pii import pii_scrub_frame
    from extractthinker_spark.functions.textstats import (
        c4_filter,
        gopher_filter,
        lang_id,
        normalize_unicode,
        strip_control_chars,
    )
    from extractthinker_spark.operators.dedup import (
        dedup_lines_corpus,
        remove_substring_spans,
        substring_dup_spans,
    )
    from extractthinker_spark.plans.pipeline import (
        doc_text,
        extract_main_content,
    )
    from extractthinker_spark.session import get_spark

    spark = get_spark("curate", master=args.master)
    t0 = time.time()
    stages = _Funnel(spark)
    funnel = stages.rows

    stages.begin("extracted")
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        from extractthinker_spark.corpus import corpus_spark

        docs = corpus_spark(spark, args.synthetic)

    # 1. extraction (the dominant stage; see module docstring for the
    # bucketed-resume road at full scale)
    text = stages.checkpoint(
        doc_text(extract_main_content(docs, nest=True)).select(
            "doc_id", F.col("content").alias("text")
        )
    )

    # 2. unicode hygiene
    clean = strip_control_chars(F.col("text"))
    if args.nfkc:
        clean = normalize_unicode(clean, "NFKC")
    text = text.select("doc_id", clean.alias("text"))

    # 3. C4 gate
    if not args.no_c4:
        stages.begin("after_c4")
        v = c4_filter(text)
        text = stages.checkpoint(
            v.filter(F.col("keep"))
            .select("doc_id", F.col("text_clean").alias("text"))
        )

    # 4. Gopher gate
    if not args.no_gopher:
        stages.begin("after_gopher")
        v = gopher_filter(text)
        text = stages.checkpoint(
            text.join(v.filter(F.col("keep")).select("doc_id"), "doc_id")
        )

    # 5. language filter
    if args.languages:
        stages.begin("after_language")
        keep = [c.strip() for c in args.languages.split(",") if c.strip()]
        text = stages.checkpoint(
            text.filter(lang_id(F.col("text")).isin(keep))
        )

    # 6. PII scrub (redact in place, keep every doc)
    text = pii_scrub_frame(text).select(
        "doc_id", F.col("text_scrubbed").alias("text")
    )

    # 7. exact dedup (smallest doc_id per fingerprint). Same survivor
    # set as dedup_exact + join-back (min doc_id per fingerprint), but
    # as a row_number window over the fingerprint — ONE shuffle
    # instead of the keep-list aggregation plus the join back.
    from pyspark.sql import Window

    from extractthinker_spark.functions.textstats import fingerprint

    stages.begin("after_exact_dedup")
    w_fp = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    text = stages.checkpoint(
        text.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # 8. near-dup canonical keep-list (MinHash + connected components)
    text = near_dedup(text, stages)

    # 9. corpus-wide duplicate-line scrub (boilerplate)
    stages.begin("after_line_dedup")
    text = stages.checkpoint(dedup_lines_corpus(text).select(
        "doc_id", F.col("text_clean").alias("text")
    ))

    # 10. exact-substring scrub (optional; heaviest dedup layer)
    if args.substring_dedup:
        stages.begin("after_substring_dedup")
        spans = substring_dup_spans(
            text, min_len=args.substring_min_len
        )
        text = stages.checkpoint(
            remove_substring_spans(text, spans).select(
                "doc_id", F.col("text_clean").alias("text")
            )
        )

    # 11. benchmark decontamination (late, over the final text — the
    # eval set must not survive any upstream rewrite)
    if args.decontam_input:
        from extractthinker_spark.operators.decontam import (
            contamination_hits,
        )

        stages.begin("after_decontam")
        bench = spark.read.parquet(args.decontam_input)
        # The corpus-wide n-gram explode + broadcast join is the most
        # expensive stage in the funnel — materialize it ONCE and
        # anti-join against the audit parquet just written, so the
        # write and the filter cannot recompute (or diverge from)
        # each other.
        audit_path = os.path.join(args.output, "_audit", "contamination")
        contamination_hits(
            text, bench, n=args.decontam_ngram
        ).write.mode("overwrite").parquet(audit_path)
        hits = spark.read.parquet(audit_path)
        text = stages.checkpoint(
            text.join(hits.select("doc_id"), "doc_id", "left_anti")
        )

    # 12. per-host cap + host stats
    if args.url_input:
        from extractthinker_spark.functions.urls import (
            cap_per_host,
            host_stats,
        )

        stages.begin("after_host_cap")
        urls = spark.read.parquet(args.url_input)
        capped = cap_per_host(
            urls, args.max_per_host
        ).select("doc_id")
        text = stages.checkpoint(text.join(capped, "doc_id"))
        host_stats(
            urls.join(text, "doc_id")
        ).write.mode("overwrite").parquet(
            os.path.join(args.output, "_audit", "host_stats")
        )

    # 13. sequence packing (training-output shape): pack the curated
    # corpus into fixed-token-budget sequences; the manifest rides
    # next to the data so the trainer never re-derives it
    if args.pack_budget:
        from extractthinker_spark.operators.packing import (
            pack_chop,
            pack_sequences,
        )

        stages.begin("packed_sequences")
        packer = pack_chop if args.pack_mode == "chop" else pack_sequences
        seqs = packer(
            text, budget=args.pack_budget, n_groups=args.pack_groups
        )
        stages.write(seqs, os.path.join(args.output, "sequences"))

    stages.begin("written")
    written = funnel[[k for k in funnel if not k.startswith("packed")][-1]]
    text.write.mode("overwrite").parquet(
        os.path.join(args.output, "data")
    )
    stages.done("written", written)
    stages.end()
    report = {
        "funnel": funnel,
        "stage_wall_s": stages.wall_s,
        "wall_seconds": round(time.time() - t0, 2),
        "stages": [k for k in funnel],
    }
    os.makedirs(os.path.join(args.output, "_audit"), exist_ok=True)
    with open(
        os.path.join(args.output, "_audit", "funnel.json"), "w"
    ) as f:
        json.dump(report, f, indent=2)
    # stderr, NOT stdout: bench.py's contract is ONE JSON line on
    # stdout, and the funnel runs inside it — r6's driver snapshot
    # failed to parse because these report lines landed in the stdout
    # tail capture ahead of the bench line.
    print(json.dumps(report), file=sys.stderr)
    if stop:
        spark.stop()
    return report


if __name__ == "__main__":
    main(sys.argv[1:])
