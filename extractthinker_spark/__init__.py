"""extractthinker_spark — a PySpark-native document-intelligence engine.

A from-scratch, Spark-first rebuild of the capabilities of
enoch3712/ExtractThinker (reference at /root/reference, read-only):
document parsing into interleaved text+media spans, HTML boilerplate
stripping (text-density + link-density + CETD-style tag-ratio scoring),
page splitting (eager/lazy), rule-based classification with consensus
strategies, contract field extraction with pagination merge, plus the
training-data-pipeline operators a 100 TB corpus needs (dedup families,
ANN similarity, text analysis, multimodal plumbing).

Design rules (see SURVEY.md):
  * DataFrame/SQL first — Catalyst owns the physical plan.
  * Python only inside Arrow-batched pandas UDFs / applyInPandas;
    never row-at-a-time Python in the hot path.
  * Span order always derives from data (``offset``), never from
    partition order.
  * Skew on doc_id handled explicitly (salting / sub-batching).
"""

__version__ = "0.1.0"

from pyspark import TaskContext

if TaskContext.get() is not None:
    # Inside a PySpark worker: every UDF closure imports this package
    # while it is unpickled, so a reused worker patches itself on its
    # first task. The driver leaves zipimport alone.
    from extractthinker_spark.zipcache import (
        install_stat_checked_zip_invalidation,
    )

    install_stat_checked_zip_invalidation()

from extractthinker_spark.api import (  # noqa: F401
    Classification,
    CompletionStrategy,
    Extractor,
    Process,
    SplitStrategy,
)
from extractthinker_spark.session import get_spark  # noqa: F401
