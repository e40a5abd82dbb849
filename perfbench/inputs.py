"""Seeded benchmark inputs, written once per run before any timing.

The seed only moves the doc-index window of ``corpus.gen_doc``: the
window starts at a multiple of 100 (the archetype period of
``corpus.archetype_of``), so every seed sees the same archetype mix on
disjoint doc_ids. The programs under test only ever see the parquet
tables written here.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from extractthinker_spark.corpus import archetype_of, gen_doc

PERIOD = 100  # archetype mix repeats every 100 doc indices

_SPAN_T = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
SPANS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(_SPAN_T), nullable=False),
])
RAW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("raw", pa.binary(), nullable=False),
])

PDF_ARCHETYPES = ("bulk_multi", "gdp_multipage")
TEXT_ARCHETYPES = (
    "invoice_txt", "driver_license_txt", "vehicle_registration_txt",
    "ambiguous_credit_note", "spreadsheet_budget", "mega_text",
)
PDF_VARIANTS = ("flat", "flat+flate", "tree", "tree+flate")


def window(seed: int, n_index: int) -> range:
    """Doc indices of one seed: ``n_index`` indices starting at a
    multiple of PERIOD, disjoint from every other seed's window."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    width = -(-n_index // PERIOD) * PERIOD
    start = seed * width
    return range(start, start + n_index)


def span_docs(seed: int, n_docs: int) -> list[dict]:
    """Mixed interleaved span documents (``corpus.gen_doc`` rows)."""
    return [gen_doc(i) for i in window(seed, n_docs)]


def pdf_variant(seed: int, i: int) -> str:
    """Which PDF writer shape renders doc ``i`` under ``seed``."""
    h = hashlib.sha256(f"{seed}:{i}".encode()).digest()[0]
    return PDF_VARIANTS[h % len(PDF_VARIANTS)]


def render_raw(doc: dict, variant: str) -> bytes:
    """Raw file bytes of one process-workload document: PDF bytes for
    the pdf archetypes (page bodies without the page header, which the
    decoder re-adds), UTF-8 text for the text archetypes."""
    from extractthinker_spark.operators.rawbytes import (
        make_fixture_pdf,
        make_fixture_pdf_tree,
    )

    if doc["archetype"] in PDF_ARCHETYPES:
        pages = [s["text"] for s in doc["expected_spans"]]
        render = make_fixture_pdf_tree if variant.startswith("tree") else make_fixture_pdf
        return render(pages, compress=variant.endswith("+flate"))
    return "\n\n".join(s["text"] for s in doc["spans"]).encode("utf-8")


def raw_docs(seed: int, n_index: int) -> list[dict]:
    """Process-workload documents drawn from the seed's window: every
    pdf and text archetype (html and media docs are skipped), each with
    its raw bytes under ``raw`` and its PDF variant under ``variant``."""
    keep = set(PDF_ARCHETYPES) | set(TEXT_ARCHETYPES)
    out = []
    for i in window(seed, n_index):
        if archetype_of(i) not in keep:
            continue
        doc = gen_doc(i)
        doc["variant"] = (
            pdf_variant(seed, i) if doc["archetype"] in PDF_ARCHETYPES else "utf8"
        )
        doc["raw"] = render_raw(doc, doc["variant"])
        out.append(doc)
    return out


def write_table(rows: list[dict], schema: pa.Schema, path: str, files: int) -> None:
    """Write ``rows`` (only the schema's columns) as ``files`` parquet
    files of contiguous rows, so a local scan has a task per core."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(
        [{f.name: r[f.name] for f in schema} for r in rows], schema=schema
    )
    n = table.num_rows
    for j in range(files):
        lo, hi = j * n // files, (j + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{j:03d}.parquet"))
