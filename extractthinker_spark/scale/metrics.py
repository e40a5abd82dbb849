"""Per-task lineage + span-count/byte metrics (north_rule).

Every checkpointed wave emits a small metrics table alongside its data:
one row per Spark partition (task) with document/span/byte counts. The
aggregation is declarative — ``spark_partition_id()`` + groupBy — so it
rides the same scan as the data write (no second job over the corpus
when computed on the wave's cached output).

Reference contrast: the reference has no task metrics; its eval module
computes quality metrics only (/root/reference/extract_thinker/eval/metrics.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _span_bytes() -> F.Column:
    # UTF-8 bytes of every span text + media_ref — the payload size a
    # task actually moved. array_join skips NULL elements, so a NULL text
    # or media_ref adds 0; NULL spans give NULL and [] gives 0. No lambda,
    # so the plan holds no interpreted higher-order function.
    text = F.octet_length(F.array_join("spans.text", ""))
    ref = F.octet_length(F.array_join("spans.media_ref", ""))
    return text.cast("long") + ref.cast("long")


def doc_metrics(documents: DataFrame) -> DataFrame:
    """Per-document span counts + byte sizes (no shuffle)."""
    return documents.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        _span_bytes().alias("n_bytes"),
    )


def task_metrics(documents: DataFrame) -> DataFrame:
    """Per-task (Spark partition) lineage metrics.

    documents(doc_id, spans, ...) → one row per partition:
    (partition_id, n_docs, n_spans, n_bytes). Partial aggregation is
    map-side (each task aggregates only its own rows — the groupBy key
    IS the partition id, so the shuffle moves one row per task).
    """
    return (
        documents.select(
            F.spark_partition_id().alias("partition_id"),
            F.size("spans").alias("n_spans"),
            _span_bytes().alias("n_bytes"),
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_bytes").alias("n_bytes"),
        )
    )
