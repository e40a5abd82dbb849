"""The three journeys, each as: build inputs, run once, check output.

* ``extract`` — ``jobs.extract_job.main`` over the mixed span table
  (CheckpointedRun waves, parquet writes, per-wave metrics).
* ``process`` — ``api.Process`` over raw file bytes: load_raw, lazy
  split, paginated extraction, plus whole-document classify.
* ``curate`` — ``jobs.curate_job.main --no-c4 --no-gopher`` over the
  mixed span table: extraction, hygiene, PII, exact, near-dup and line
  dedup.

Sizes are fixed here and stated in README.md; only the seed varies.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import inputs
from checks import (
    ProcessGolden,
    Verdict,
    check_curate,
    check_extract,
    check_process,
    span_key,
)

CORES = 4
MASTER = f"local[{CORES}]"
FILES = 8  # parquet files per input table: two scan tasks per core


class Workload:
    name = ""
    docs = 0  # input documents per iteration
    journey = ""  # span name of one whole iteration in a traced run
    layers: frozenset[str] = frozenset()  # layer groups on the journey

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.inp = os.path.join(work, "input")
        self.out = os.path.join(work, "output")

    def build(self) -> None:
        """Write the input table and keep the goldens (untimed)."""
        raise NotImplementedError

    def run(self, spark, inp: str | None = None):
        """One iteration of the journey; returns what ``check`` needs.
        ``inp`` replaces the input table (the traced run's empty one)."""
        raise NotImplementedError

    def check(self, spark, result) -> Verdict:
        raise NotImplementedError

    def archetypes(self) -> dict[str, str]:
        raise NotImplementedError


def _same_spans(a, b) -> bool:
    """Two (doc_id, spans) Arrow tables hold the same values, whatever
    the nullability and list-field names of their schemas."""
    import pyarrow.compute as pc

    if a.num_rows != b.num_rows or not a["doc_id"].equals(b["doc_id"]):
        return False
    sa, sb = a["spans"].combine_chunks(), b["spans"].combine_chunks()
    if not pc.list_value_length(sa).equals(pc.list_value_length(sb)):
        return False
    fa, fb = pc.list_flatten(sa), pc.list_flatten(sb)
    return all(
        fa.field(f).equals(fb.field(f).cast(fa.field(f).type))
        for f in ("kind", "text", "media_ref", "offset")
    )


class Extract(Workload):
    name = "extract"
    docs = 8000
    journey = "jobs.extract_job.main"
    layers = frozenset({"parse_core", "parse_html", "pipeline", "checkpoint", "sink"})

    def build(self) -> None:
        import pyarrow as pa

        rows = inputs.span_docs(self.seed, self.docs)
        inputs.write_table(rows, inputs.SPANS_SCHEMA, self.inp, FILES)
        self.golden = {
            r["doc_id"]: (r["archetype"], span_key(r["expected_spans"]))
            for r in rows
        }
        self.expected = pa.Table.from_pylist(
            [{"doc_id": r["doc_id"], "spans": r["expected_spans"]} for r in rows],
            schema=inputs.SPANS_SCHEMA,
        ).sort_by("doc_id")

    def archetypes(self) -> dict[str, str]:
        return {d: a for d, (a, _) in self.golden.items()}

    def run(self, spark, inp: str | None = None):
        from jobs.extract_job import main

        shutil.rmtree(self.out, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):  # stdout is ours
            main(
                ["--input", inp or self.inp, "--output", self.out,
                 "--input-token", f"seed-{self.seed}", "--master", MASTER],
                stop=False,
            )

    def check(self, spark, result) -> Verdict:
        import pyarrow.dataset as ds

        data = ds.dataset(
            os.path.join(self.out, "data"), format="parquet", partitioning="hive"
        )
        out = data.to_table(columns=["doc_id", "spans"]).sort_by("doc_id")
        # fast path: the output equals the goldens column for column;
        # otherwise compare document by document
        if _same_spans(out, self.expected):
            return Verdict(attempted=len(self.golden), ok=len(self.golden))
        return check_extract(out.to_pylist(), self.golden)


class ProcessRaw(Workload):
    name = "process"
    index_window = 5000  # doc indices scanned; 60% are pdf or text docs
    docs = index_window * 60 // 100
    journey = "api.Process"
    layers = frozenset({"rawbytes", "parse_core", "parse_html", "pipeline",
                        "split", "classify", "extract"})

    def build(self) -> None:
        rows = inputs.raw_docs(self.seed, self.index_window)
        if len(rows) != self.docs:
            raise RuntimeError(f"{len(rows)} process docs, expected {self.docs}")
        inputs.write_table(rows, inputs.RAW_SCHEMA, self.inp, FILES)
        self.golden = {
            r["doc_id"]: ProcessGolden(
                archetype=f'{r["archetype"]}/{r["variant"]}',
                doc_class=r["expected_class"][0],
                groups={g: (tuple(p), c) for g, p, c in r["expected_groups"]},
                fields=frozenset(r["expected_fields"]),
                paged=r["archetype"] in inputs.PDF_ARCHETYPES,
            )
            for r in rows
        }

    def archetypes(self) -> dict[str, str]:
        return {d: g.archetype for d, g in self.golden.items()}

    def run(self, spark, inp: str | None = None):
        from extractthinker_spark.api import (
            CompletionStrategy,
            Process,
            SplitStrategy,
        )

        raw = spark.read.parquet(inp or self.inp)
        p = Process().load_raw(raw).split(SplitStrategy.LAZY)
        fields = p.extract(CompletionStrategy.PAGINATE).collect()
        groups = p.groups().select(
            "doc_id", "group_id", "classification", "page_no"
        ).collect()
        classes = Process().load_raw(raw).classify().collect()
        return classes, groups, fields

    def check(self, spark, result) -> Verdict:
        classes, groups, fields = result
        return check_process(classes, groups, fields, self.golden)


class Curate(Workload):
    name = "curate"
    docs = 500
    journey = "jobs.curate_job.main"
    layers = frozenset({"parse_core", "parse_html", "pipeline", "textstats",
                        "pii", "dedup", "sink"})

    def build(self) -> None:
        rows = inputs.span_docs(self.seed, self.docs)
        inputs.write_table(rows, inputs.SPANS_SCHEMA, self.inp, FILES)
        self._archetypes = {r["doc_id"]: r["archetype"] for r in rows}
        self.funnel = None  # first iteration's funnel counts

    def archetypes(self) -> dict[str, str]:
        return self._archetypes

    def run(self, spark, inp: str | None = None):
        from jobs.curate_job import main

        shutil.rmtree(self.out, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):  # stdout is ours
            return main(
                ["--input", inp or self.inp, "--output", self.out,
                 "--no-c4", "--no-gopher", "--master", MASTER],
                stop=False,
            )

    def check(self, spark, result) -> Verdict:
        import pyspark.sql.functions as F

        from extractthinker_spark.functions.textstats import fingerprint

        survivors = (
            spark.read.parquet(os.path.join(self.out, "data"))
            .select("doc_id", fingerprint(F.col("text")).alias("fp"))
            .collect()
        )
        funnel = result["funnel"]
        verdict = check_curate(survivors, self._archetypes, funnel, self.funnel)
        if self.funnel is None:
            self.funnel = dict(funnel)
        return verdict


WORKLOADS = {w.name: w for w in (Extract, ProcessRaw, Curate)}
