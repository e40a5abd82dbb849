"""E-mail ingest: MIME walk, alternative preference, transfer-encoding
round-trips, mbox framing, sniffer parity, and the composed road into
parse_raw_bytes."""

from __future__ import annotations

import pyspark.sql.functions as F

from extractthinker_spark.operators.email_mime import (
    EML_HEADERS,
    _body_leaves,
    decode_eml_spans,
    decode_mbox_messages,
    make_fixture_eml,
    make_fixture_mbox,
)
from extractthinker_spark.operators.rawbytes import sniff_bytes

BODY = "Hello café line one\nFrom here on out, sécond line"


def test_eml_spans_alternative_prefers_html():
    spans = decode_eml_spans(
        make_fixture_eml(BODY, subject="Msg 5 café", html=True,
                         attach="report_5.pdf")
    )
    assert [k for k, _, _ in spans] == ["text", "html", "media"]
    hdr = spans[0][1]
    assert hdr.startswith("Subject: Msg 5 café\nFrom: Alice")
    assert "To: bob@example.org" in hdr and "Date: Mon, 01 Jan" in hdr
    # the html alternative wins and round-trips the UTF-8 body exactly
    # through base64; the QP plain part is dropped (RFC 2046 §5.1.4)
    assert spans[1][1] == f"<html><body><p>{BODY}</p></body></html>"
    assert spans[2] == ("media", None, "attach:report_5.pdf")


def test_eml_spans_plain_only_roundtrips_qp():
    # long body → quoted-printable soft line breaks must vanish
    body = ("word " * 40) + "fin de ligne café "  # trailing space edge
    spans = decode_eml_spans(make_fixture_eml(body, subject="p"))
    assert [k for k, _, _ in spans] == ["text", "text"]
    assert spans[1][1] == body


def test_eml_non_mime_bare_message():
    bare = b"From: x@y.z\r\nSubject: bare\r\n\r\njust a body line\r\n"
    assert sniff_bytes(bare) == "eml"
    spans = decode_eml_spans(bare)
    assert spans[0] == ("text", "Subject: bare\nFrom: x@y.z", None)
    assert spans[1][0] == "text" and "just a body line" in spans[1][1]


def test_eml_forwarded_rfc822_recurses():
    inner = make_fixture_eml("inner body text", subject="inner")
    outer = (
        b"From: f@y.z\r\nSubject: fwd\r\nMIME-Version: 1.0\r\n"
        b'Content-Type: message/rfc822\r\n\r\n' + inner
    )
    spans = decode_eml_spans(outer)
    # outer header block, then the INNER message's body leaves
    assert spans[0][1].startswith("Subject: fwd")
    assert any(t == "inner body text" for _, t, _ in spans[1:])


def test_eml_defective_text_part_degrades_to_media():
    raw = (
        b"From: a@b.c\r\nSubject: s\r\nMIME-Version: 1.0\r\n"
        b'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
        b"--BB\r\nContent-Type: text/plain; charset=ebcdic-nonsense\r\n"
        b"Content-Transfer-Encoding: 8bit\r\n\r\nabc\r\n--BB--\r\n"
    )
    spans = decode_eml_spans(raw)
    assert ("media", None, "attach:defective:text/plain") in spans


def test_mbox_split_and_quote_roundtrip():
    e1 = make_fixture_eml(BODY, subject="one", html=True)
    e2 = make_fixture_eml("plain only", subject="two")
    mb = make_fixture_mbox([e1, e2, e1])
    assert sniff_bytes(mb) == "mbox"
    msgs = decode_mbox_messages(mb)
    assert len(msgs) == 3
    # the body line "From here on out" was mboxrd-quoted in the
    # archive and must come back unquoted
    assert "From here on out" in decode_eml_spans(msgs[0])[1][1]
    # the final message round-trips byte-exact (no following
    # separator to absorb its trailing newline)
    assert msgs[2] == e1
    assert decode_mbox_messages(b"not an mbox at all") == []


def test_sniff_parity_and_negatives(spark):
    from extractthinker_spark.operators.rawbytes import detect_format_bytes

    rows = [
        make_fixture_eml(BODY, subject="s", html=True, attach="a.pdf"),
        make_fixture_mbox([make_fixture_eml("x", subject="y")]),
        b"From: x@y.z\r\n\r\nbody",
        b"Received: from relay.example\r\nSubject: s\r\n\r\nbody",
        # negatives: From-the-word prose and a bare From_ line with no
        # header evidence below stay txt
        b"From the top of the hill we saw everything below",
        b"From alice Mon Jan 1\njust prose, no headers anywhere",
        b"subject matters: a treatise",  # 'subject:' needs the colon
    ]
    expected = [sniff_bytes(b) for b in rows]
    assert expected == ["eml", "mbox", "eml", "eml", "txt", "txt", "txt"]
    df = spark.createDataFrame([(b,) for b in rows], "raw binary")
    got = [
        r.fmt
        for r in df.select(
            detect_format_bytes(F.col("raw")).alias("fmt")
        ).collect()
    ]
    assert got == expected


def test_parse_raw_bytes_end_to_end(spark):
    from extractthinker_spark.operators.rawbytes import parse_raw_bytes

    rows = [
        ("d0", make_fixture_eml(BODY, subject="s0", html=True,
                                attach="r0.pdf")),
        ("d1", make_fixture_mbox([
            make_fixture_eml("m one", subject="s1"),
            make_fixture_eml("m two", subject="s2"),
        ])),
        ("d2", b"From: broken\xff\xfe\x00trailing-garbage"),
    ]
    out = {
        r.doc_id: r
        for r in parse_raw_bytes(
            spark.createDataFrame(rows, "doc_id string, raw binary")
        ).collect()
    }
    assert out["d0"].format == "eml"
    assert [s.kind for s in out["d0"].spans] == ["text", "html", "media"]
    assert out["d1"].format == "mbox"
    # two messages, running offsets: hdr,text,hdr,text
    kinds = [s.kind for s in out["d1"].spans]
    assert kinds == ["text", "text", "text", "text"]
    assert [s.offset for s in out["d1"].spans] == [0, 1, 2, 3]
    texts = " ".join(s.text or "" for s in out["d1"].spans)
    assert "m one" in texts and "m two" in texts
    # undecodable head bytes: guarded, never raises
    assert out["d2"].format in ("unknown", "corrupt:unknown", "txt",
                                "eml", "corrupt:eml")


def test_eml_headers_tuple_is_lowercase_colon():
    assert all(h == h.lower() and h.endswith(":") for h in EML_HEADERS)


def _decode_eml_spans_reference(
    b: bytes,
) -> list[tuple[str, str | None, str | None]]:
    """The policy.default walk — the differential oracle for the
    compat32 fast path in decode_eml_spans."""
    import email
    from email import policy

    msg = email.message_from_bytes(b, policy=policy.default)
    out: list[tuple[str, str | None, str | None]] = []
    hdr = []
    for h in ("Subject", "From", "To", "Date"):
        v = msg.get(h)
        if v:
            hdr.append(f"{h}: {v}")
    if hdr:
        out.append(("text", "\n".join(hdr), None))
    for part in _body_leaves(msg):
        ctype = part.get_content_type()
        if part.get_content_maintype() == "text":
            try:
                content = part.get_content()
            except Exception:
                out.append(("media", None, f"attach:defective:{ctype}"))
                continue
            out.append(
                ("html" if ctype == "text/html" else "text", content, None)
            )
        else:
            out.append(("media", None, f"attach:{part.get_filename() or ctype}"))
    return out


def test_eml_fast_path_matches_policy_default_reference():
    """The compat32 fast walk must reproduce the policy.default walk
    span-for-span over the fixture corpus, including defective
    mutations (broken charset, truncated base64, bogus content-type,
    bare non-MIME, forwarded rfc822)."""
    cases: list[bytes] = []
    for i in range(40):
        cases.append(
            make_fixture_eml(
                f"body {i} café " * (i % 7 + 1),
                subject=f"Msg {i} café",
                html=bool(i % 2),
                attach=(f"r_{i}.pdf" if i % 3 == 0 else None),
            )
        )
    cases.append(b"From: a@b.c\r\nSubject: bare\r\n\r\njust text\r\n")
    inner = make_fixture_eml("inner body text", subject="inner")
    cases.append(
        b"From: f@g.h\r\nSubject: fwd\r\nMIME-Version: 1.0\r\n"
        b"Content-Type: message/rfc822\r\n\r\n" + inner
    )
    cases.append(
        b"From: a@b.c\r\nSubject: s\r\nMIME-Version: 1.0\r\n"
        b'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
        b"--BB\r\nContent-Type: text/plain; charset=ebcdic-nonsense\r\n"
        b"Content-Transfer-Encoding: 8bit\r\n\r\nabc\r\n--BB--\r\n"
    )
    cases.append(
        b"Subject: =?utf-8?b?Y2Fmw6k=?= mixed =?utf-8?q?t=C3=A9a?=\r\n"
        b"From: x@y.z\r\n\r\nplain body\r\n"
    )
    # mutations: truncate / splice each fixture to stress defect paths
    for i in range(0, len(cases), 3):
        cases.append(cases[i][: max(20, len(cases[i]) // 2)])
    for raw in cases:
        assert decode_eml_spans(raw) == _decode_eml_spans_reference(raw), raw[:120]
