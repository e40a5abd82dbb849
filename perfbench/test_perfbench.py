"""Tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import hashlib
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import pyarrow as pa  # noqa: E402

import inputs  # noqa: E402
from checks import (  # noqa: E402
    ProcessGolden,
    check_curate,
    check_extract,
    check_process,
    span_key,
)
from workloads import _same_spans  # noqa: E402


def _digests(path: Path) -> dict[str, str]:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(path.iterdir())
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        inputs.write_table(
            inputs.span_docs(7, 300), inputs.SPANS_SCHEMA, tmp_path / run / "spans", 4
        )
        inputs.write_table(
            inputs.raw_docs(7, 300), inputs.RAW_SCHEMA, tmp_path / run / "raw", 4
        )
    for table in ("spans", "raw"):
        a, b = _digests(tmp_path / "a" / table), _digests(tmp_path / "b" / table)
        assert len(a) == 4 and a == b


def test_different_seeds_disjoint_ids_same_mix():
    docs = {s: inputs.span_docs(s, 250) for s in (0, 1, 99)}
    ids = {s: {d["doc_id"] for d in v} for s, v in docs.items()}
    assert not ids[0] & ids[1] and not ids[1] & ids[99] and not ids[0] & ids[99]
    mix = {s: Counter(d["archetype"] for d in v) for s, v in docs.items()}
    assert mix[0] == mix[1] == mix[99]
    raw = {s: inputs.raw_docs(s, 400) for s in (3, 4)}
    assert Counter(d["archetype"] for d in raw[3]) == Counter(d["archetype"] for d in raw[4])
    assert not {d["doc_id"] for d in raw[3]} & {d["doc_id"] for d in raw[4]}
    # the PDF writer shape varies with the seed
    assert [d["variant"] for d in raw[3]] != [d["variant"] for d in raw[4]]


def _extract_case():
    docs = inputs.span_docs(2, 100)
    golden = {d["doc_id"]: (d["archetype"], span_key(d["expected_spans"])) for d in docs}
    out = [{"doc_id": d["doc_id"], "spans": copy.deepcopy(d["expected_spans"])} for d in docs]
    return golden, out


def test_extract_checker_passes_goldens_and_flags_dropped_span():
    golden, out = _extract_case()
    assert check_extract(out, golden).failed == 0
    victim = next(r for r in out if r["doc_id"].endswith("85"))  # interleaved_media
    victim["spans"].pop(1)
    v = check_extract(out, golden)
    assert v.failed == 1 and v.wrong == Counter({"interleaved_media": 1})


def test_extract_fast_path_sees_a_dropped_span():
    golden, out = _extract_case()
    table = pa.Table.from_pylist(out, schema=inputs.SPANS_SCHEMA)
    assert _same_spans(table, table)
    out[5]["spans"].pop()
    assert not _same_spans(pa.Table.from_pylist(out, schema=inputs.SPANS_SCHEMA), table)


def _process_case():
    docs = inputs.raw_docs(5, 200)
    golden = {
        d["doc_id"]: ProcessGolden(
            archetype=d["archetype"],
            doc_class=d["expected_class"][0],
            groups={g: (tuple(p), c) for g, p, c in d["expected_groups"]},
            fields=frozenset(d["expected_fields"]),
            paged=d["archetype"] in inputs.PDF_ARCHETYPES,
        )
        for d in docs
    }
    classes = [{"doc_id": d, "classification": g.doc_class} for d, g in golden.items()]
    groups = [
        {"doc_id": d, "group_id": gid, "classification": cls, "page_no": p}
        for d, g in golden.items() for gid, (pages, cls) in g.groups.items() for p in pages
    ]
    fields = [
        {"doc_id": d, "group_id": 1, "contract": c, "field": f, "value": v}
        for d, g in golden.items() if g.paged for c, f, v in g.fields
    ]
    return golden, classes, groups, fields


def test_process_checker_flags_swapped_group_class():
    golden, classes, groups, fields = _process_case()
    assert check_process(classes, groups, fields, golden).failed == 0
    bulk = next(r for r in groups if r["classification"] == "Driver License")
    bulk["classification"] = "Vehicle Registration"
    v = check_process(classes, groups, fields, golden)
    assert v.failed == 1 and v.wrong == Counter({"bulk_multi": 1})


def test_process_checker_flags_wrong_doc_class_and_missing_field():
    golden, classes, groups, fields = _process_case()
    next(r for r in classes if r["classification"] == "Invoice")["classification"] = "Unknown"
    fields.pop()
    assert check_process(classes, groups, fields, golden).failed == 2


def _curate_case():
    archetypes = {f"doc_{i:06d}": "invoice_txt" for i in range(10)}
    survivors = [{"doc_id": d, "fp": f"fp{i}"} for i, d in enumerate(archetypes)]
    funnel = {"extracted": 10, "after_near_dedup": 10, "written": 10}
    return archetypes, survivors, funnel


def test_curate_checker_flags_duplicate_survivor():
    archetypes, survivors, funnel = _curate_case()
    assert check_curate(survivors, archetypes, funnel, None).failed == 0
    survivors[3]["fp"] = survivors[2]["fp"]
    assert check_curate(survivors, archetypes, funnel, None).failed == 1


def test_curate_checker_flags_foreign_survivor_and_funnel_drift():
    archetypes, survivors, funnel = _curate_case()
    survivors.append({"doc_id": "not_an_input", "fp": "x"})
    funnel = dict(funnel, written=11)
    assert check_curate(survivors, archetypes, funnel, None).failed == 1
    _, survivors, funnel = _curate_case()
    drifted = dict(funnel, after_near_dedup=9)
    assert check_curate(survivors, archetypes, drifted, funnel).failed == 1


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
