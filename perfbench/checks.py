"""Output checkers, run outside the timed region of each iteration.

Each returns a ``Verdict``: how many input documents were attempted,
how many came out right, and the wrong ones counted per archetype, so a
``correct_ratio`` below 1.0 names what failed.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Verdict:
    attempted: int
    ok: int
    wrong: Counter = field(default_factory=Counter)  # archetype -> docs

    @property
    def failed(self) -> int:
        return self.attempted - self.ok


def _verdict(archetype_of: dict[str, str], bad: set[str]) -> Verdict:
    return Verdict(
        attempted=len(archetype_of),
        ok=len(archetype_of) - len(bad),
        wrong=Counter(archetype_of[d] for d in bad),
    )


def crashed(archetype_of: dict[str, str]) -> Verdict:
    """A crashed iteration: every document counts as wrong."""
    return _verdict(archetype_of, set(archetype_of))


def span_key(spans) -> tuple:
    """(kind, text, media_ref) in ``offset`` order: the span sequence."""
    return tuple(
        (s["kind"], s["text"], s["media_ref"])
        for s in sorted(spans, key=lambda s: s["offset"])
    )


def check_extract(
    out_rows: list[dict], golden: dict[str, tuple[str, tuple]]
) -> Verdict:
    """``out_rows`` are (doc_id, spans) rows of the job output;
    ``golden`` maps doc_id -> (archetype, expected span sequence). A
    document is right when it comes out exactly once with the expected
    span sequence."""
    seen = Counter(r["doc_id"] for r in out_rows)
    bad = {d for d in golden if seen[d] != 1}
    for r in out_rows:
        d = r["doc_id"]
        if d in golden and span_key(r["spans"]) != golden[d][1]:
            bad.add(d)
    return _verdict({d: a for d, (a, _) in golden.items()}, bad)


@dataclass
class ProcessGolden:
    archetype: str
    doc_class: str
    groups: dict[int, tuple[tuple[int, ...], str]]  # pdf docs only
    fields: frozenset  # (contract, field, value); pdf docs only
    paged: bool  # True for pdf docs: groups and fields are checked


def check_process(
    class_rows: list[dict],
    group_rows: list[dict],
    field_rows: list[dict],
    golden: dict[str, ProcessGolden],
) -> Verdict:
    """Every document's whole-document class must match; for paged
    (pdf) documents the split groups, their classes and the paginated
    fields must match too."""
    classes: dict[str, list[str]] = {}
    for r in class_rows:
        classes.setdefault(r["doc_id"], []).append(r["classification"])
    pages: dict[str, dict[int, list]] = {}
    for r in group_rows:
        g = pages.setdefault(r["doc_id"], {}).setdefault(r["group_id"], [[], set()])
        g[0].append(r["page_no"])
        g[1].add(r["classification"])
    fields: dict[str, Counter] = {}
    for r in field_rows:
        fields.setdefault(r["doc_id"], Counter())[
            (r["contract"], r["field"], r["value"])
        ] += 1

    bad = set()
    for d, g in golden.items():
        if classes.get(d) != [g.doc_class]:
            bad.add(d)
        if not g.paged:
            continue
        got_groups = {
            gid: (tuple(sorted(p)), next(iter(c)) if len(c) == 1 else None)
            for gid, (p, c) in pages.get(d, {}).items()
        }
        got_fields = fields.get(d, Counter())
        if (
            got_groups != g.groups
            or set(got_fields) != g.fields
            or any(n != 1 for n in got_fields.values())
        ):
            bad.add(d)
    return _verdict({d: g.archetype for d, g in golden.items()}, bad)


def check_curate(
    survivors: list[dict],
    archetype_of: dict[str, str],
    funnel: dict[str, int],
    reference_funnel: dict[str, int] | None,
) -> Verdict:
    """``survivors`` are (doc_id, fp) rows of the written corpus, where
    fp is ``textstats.fingerprint`` of the surviving text. Wrong:
    a survivor that is no input doc or repeats a doc_id; every
    survivor after the first with a given fingerprint; every input doc
    the extraction stage lost; the gap between the written count and
    the survivors; and the gap to the first iteration's funnel counts
    (the funnel is deterministic for one input)."""
    bad_ids: set[str] = set()
    extra = 0
    ids = Counter(r["doc_id"] for r in survivors)
    first_of_fp: dict[str, str] = {}
    for r in sorted(survivors, key=lambda r: r["doc_id"]):
        d = r["doc_id"]
        if d not in archetype_of:
            extra += 1
            continue
        if ids[d] != 1:
            bad_ids.add(d)
        if r["fp"] in first_of_fp and first_of_fp[r["fp"]] != d:
            bad_ids.add(d)
        first_of_fp.setdefault(r["fp"], d)
    gaps = extra
    gaps += max(0, len(archetype_of) - funnel.get("extracted", 0))
    gaps += abs(funnel.get("written", -1) - len(survivors))
    if reference_funnel is not None:
        gaps += sum(
            abs(funnel.get(k, 0) - v) for k, v in reference_funnel.items()
        )
    v = _verdict(archetype_of, bad_ids)
    gaps = min(gaps, v.ok)
    v.ok -= gaps
    if gaps:
        v.wrong["funnel"] += gaps
    return v
