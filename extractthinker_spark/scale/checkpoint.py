"""Snapshot-style checkpointed runs with per-bucket resume (north_rule).

Emulates Iceberg snapshot semantics on plain parquet (the sandbox has
no Iceberg runtime jar; on a real cluster the writer below becomes
``df.writeTo(table).append()`` and the manifest becomes the snapshot
id — the control flow is identical, see SURVEY.md §4.3):

  * The doc_id space is hashed into ``n_buckets`` buckets
    (``pmod(xxhash64(doc_id, salt), n_buckets)``) — the unit of resume.
  * Buckets are processed in **waves** (a wave ≈ one snapshot commit).
    Each wave is computed (transform → partitioned write to a temp dir
    → per-task lineage metrics and the optional audit written →
    per-bucket counts read back) and then committed (atomic rename of
    each bucket directory into place → per-bucket manifest JSON
    written LAST).
  * Waves run **two deep**: a worker thread computes wave N+1 while
    wave N finishes computing and the calling thread commits it. One
    small wave leaves most cores idle during its single-task write
    and its read-back passes; the next wave's scan fills them. Waves
    still commit strictly in order, one at a time, on the calling
    thread.
  * A manifest records (bucket, input_token, n_docs, n_spans, wave,
    wall_s). On restart, buckets with a manifest matching
    ``input_token`` are skipped entirely (never rescanned, never
    rewritten); buckets without one are cleaned and reprocessed. A
    crash loses at most the two waves in flight, and a crash between
    data rename and manifest write degrades to recompute-one-bucket —
    never to corrupt or duplicated output.
  * Each wave's Spark jobs carry the description ``checkpoint wave
    <n> buckets <lo>-<hi>``, which is also their job group unless the
    caller already set one (a caller's group is kept, so its jobs can
    still be cancelled or counted as one).

ExtractThinker's nearest analogue is its async ``BatchJob`` with status
polling; ours is deterministic and partition-parallel.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import Future

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import InheritableThread

from extractthinker_spark.scale.metrics import task_metrics


class WaveFailure(RuntimeError):
    """Injected mid-run failure (tests only)."""


class CheckpointedRun:
    def __init__(
        self,
        output_dir: str,
        n_buckets: int = 64,
        wave_size: int = 16,
        salt: int = 0,
        input_token: str = "",
    ) -> None:
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        self.wave_size = wave_size
        self.salt = salt
        self.input_token = input_token
        self.data_dir = os.path.join(output_dir, "data")
        self.manifest_dir = os.path.join(output_dir, "_manifests")
        self.metrics_dir = os.path.join(output_dir, "_metrics")

    # -- manifest bookkeeping -------------------------------------------------

    def _manifest_path(self, bucket: int) -> str:
        return os.path.join(self.manifest_dir, f"bucket-{bucket:05d}.json")

    def done_buckets(self) -> set[int]:
        done: set[int] = set()
        if not os.path.isdir(self.manifest_dir):
            return done
        for name in os.listdir(self.manifest_dir):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self.manifest_dir, name)) as f:
                m = json.load(f)
            if m.get("input_token") == self.input_token:
                done.add(int(m["bucket"]))
        return done

    def manifests(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def _bucket_data_dir(self, bucket: int) -> str:
        return os.path.join(self.data_dir, f"bucket={bucket}")

    # -- the run --------------------------------------------------------------

    def bucket_col(self) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col("doc_id"), F.lit(self.salt)), F.lit(self.n_buckets)
        ).cast("int")

    def run(
        self,
        spark: SparkSession,
        documents: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        _fail_after_waves: int | None = None,
        audit: Callable[[DataFrame], DataFrame] | None = None,
        audit_name: str = "audit",
    ) -> dict:
        """Process all not-yet-done buckets in waves; return run stats.

        ``transform`` and ``audit`` are called from a wave thread, two
        waves at a time, once each per wave and both on that wave's
        thread with the SAME input DataFrame object.

        ``audit`` (optional) maps each wave's INPUT slice to a small
        DataFrame written under ``_metrics/<audit_name>-wave-N``
        BEFORE the wave's manifests commit — so a side-channel like
        quality-gate reject reasons rides the same resume semantics:
        a re-run wave overwrites its audit output, a skipped bucket's
        audit stays as committed."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

        done = self.done_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        waves = [
            todo[i : i + self.wave_size]
            for i in range(0, len(todo), self.wave_size)
        ]
        # Clean uncommitted output of a previous crashed attempt, which
        # may have had two waves in flight. A resume can cut its waves
        # differently, so not every leftover is overwritten by name:
        # drop the temp dirs, bucket dirs renamed into place without
        # their manifest, and the metrics/audit dirs of waves that never
        # committed (named after their first bucket, so that bucket has
        # no manifest).
        for name in os.listdir(self.output_dir):
            if name.startswith("_tmp-wave-"):
                shutil.rmtree(
                    os.path.join(self.output_dir, name), ignore_errors=True
                )
        for name in os.listdir(self.metrics_dir):
            first = name.rpartition("wave-")[2]
            if first.isdigit() and int(first) in todo:
                shutil.rmtree(
                    os.path.join(self.metrics_dir, name), ignore_errors=True
                )
        for b in todo:
            shutil.rmtree(self._bucket_data_dir(b), ignore_errors=True)

        src = documents.withColumn("_bucket", self.bucket_col())
        stats = {"skipped_buckets": len(done), "waves_run": 0, "docs": 0}

        threads: list[InheritableThread] = []

        def start(wave_no: int) -> Future:
            result: Future = Future()

            def compute() -> None:
                try:
                    result.set_result(self._compute_wave(
                        spark, src, transform, audit, audit_name,
                        wave_no, waves[wave_no],
                    ))
                except BaseException as e:  # re-raised by result()
                    result.set_exception(e)

            # InheritableThread hands the caller's Spark job properties
            # (job group, description, tags) to the wave thread.
            t = InheritableThread(
                compute, session=spark, name=f"checkpoint-wave-{wave_no}"
            )
            t.start()
            threads.append(t)
            return result

        in_flight = [start(0)] if waves else []
        try:
            for wave_no, wave in enumerate(waves):
                if wave_no + 1 < len(waves):
                    in_flight.append(start(wave_no + 1))
                tmp, per_bucket, t0 = in_flight.pop(0).result()
                stats["docs"] += self._commit_wave(
                    wave_no, wave, tmp, per_bucket, t0
                )
                stats["waves_run"] += 1
                if (
                    _fail_after_waves is not None
                    and stats["waves_run"] >= _fail_after_waves
                    and wave_no < len(waves) - 1
                ):
                    raise WaveFailure(
                        f"injected failure after wave {wave_no}"
                    )
        finally:
            # After an error the other in-flight wave still runs to its
            # end, so nothing writes into the output once run() returns;
            # that wave is never committed.
            for t in threads:
                t.join()
        return stats

    def _compute_wave(
        self,
        spark: SparkSession,
        src: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        audit: Callable[[DataFrame], DataFrame] | None,
        audit_name: str,
        wave_no: int,
        wave: list[int],
    ) -> tuple[str, dict, float]:
        """Transform one wave, write it to its temp dir plus its
        metrics and audit; return (temp dir, per-bucket counts, start
        time). Runs on a wave thread; touches no committed state."""
        t0 = time.monotonic()
        sc = spark.sparkContext
        label = f"checkpoint wave {wave_no} buckets {wave[0]}-{wave[-1]}"
        if sc.getLocalProperty("spark.jobGroup.id") is None:
            sc.setJobGroup(label, label)
        else:  # keep the caller's group and its cancel settings
            sc.setJobDescription(label)

        wave_in = src.filter(F.col("_bucket").isin(wave)).drop("_bucket")
        out = transform(wave_in).withColumn("bucket", self.bucket_col())

        tmp = os.path.join(self.output_dir, f"_tmp-wave-{wave[0]:05d}")
        out.write.mode("overwrite").partitionBy("bucket").parquet(tmp)

        # Lineage metrics for the wave (reads back the small wave
        # output — bounded by wave size, not corpus size). Explicit
        # schema: a fully-filtered wave (e.g. quality gate drops
        # every doc) writes an EMPTY dataset, which cannot infer.
        wave_out = (
            spark.read.option("basePath", tmp)
            .schema(out.schema).parquet(tmp)
        )
        metrics = task_metrics(wave_out).withColumn("wave", F.lit(wave_no))
        metrics.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.metrics_dir, f"wave-{wave[0]:05d}")
        )
        if audit is not None:
            audit(wave_in).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(
                    self.metrics_dir, f"{audit_name}-wave-{wave[0]:05d}"
                )
            )
        per_bucket = {
            r["bucket"]: r
            for r in wave_out.groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
            )
            .collect()
        }
        return tmp, per_bucket, t0

    def _commit_wave(
        self,
        wave_no: int,
        wave: list[int],
        tmp: str,
        per_bucket: dict,
        t0: float,
    ) -> int:
        """Snapshot commit: rename bucket dirs into place, then write
        manifests (manifest LAST = the commit point). Returns the
        wave's document count."""
        for b in wave:
            src_dir = os.path.join(tmp, f"bucket={b}")
            if os.path.isdir(src_dir):
                os.rename(src_dir, self._bucket_data_dir(b))
        shutil.rmtree(tmp, ignore_errors=True)
        n_docs = 0
        for b in wave:
            row = per_bucket.get(b)
            manifest = {
                "bucket": b,
                "input_token": self.input_token,
                "n_docs": int(row["n_docs"]) if row else 0,
                "n_spans": int(row["n_spans"]) if row else 0,
                "wave": wave_no,
                "wall_s": round(time.monotonic() - t0, 3),
            }
            tmp_mf = self._manifest_path(b) + ".tmp"
            with open(tmp_mf, "w") as f:
                json.dump(manifest, f)
            os.rename(tmp_mf, self._manifest_path(b))
            n_docs += manifest["n_docs"]
        return n_docs

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.data_dir).parquet(
            self.data_dir
        )

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.metrics_dir, "wave-*"))

    def read_audit(
        self, spark: SparkSession, audit_name: str = "audit"
    ) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.metrics_dir, f"{audit_name}-wave-*")
        )
