"""RFC 5322 / MIME e-mail ingest (.eml single messages, mbox archives).

Sniffing is content-based (header-line probe, parity-kept with
``rawbytes.detect_format_bytes``); decoding delegates to Python's
stdlib ``email`` package under ``policy.default`` — the canonical
implementation (same stance as zlib-for-Flate and unicodedata-for-NFC):
RFC 2047 header decode, multipart walk, quoted-printable / base64
content-transfer decode, charset decode, RFC 2231 filenames.

Span mapping (the interleaved text+media contract of the corpus
schema, SURVEY §2.12):

* span 0 — ``text``: the header block ("Subject: …\\nFrom: …\\nTo: …\\n
  Date: …", present headers only, RFC 2047-decoded)
* one span per body leaf, in message order — ``text`` for text/plain
  (and other text/*), ``html`` for text/html (downstream html_strip
  applies); a multipart/alternative contributes only its LAST
  text-capable alternative (RFC 2046 §5.1.4: later parts are
  "increasingly faithful"); message/rfc822 forwards recurse
* one ``media`` span per attachment leaf, media_ref
  ``attach:<filename or content-type>`` — the opaque-bytes convention
  the media family uses

mbox archives (RFC 4155): messages split on From_ separator lines,
mboxrd ``>From`` unquoting, per-message spans concatenated with a
running offset.

Reference parity: the reference routes e-mail-ish content through
MarkItDown's stdlib-email walk (the markitdown loader family,
``/root/reference/extract_thinker/document_loader/document_loader_markitdown.py``);
this module re-expresses it Spark-first — the decoders run inside
``rawbytes.parse_raw_bytes``'s single Arrow mapInPandas stage, no
shuffle, no per-row Python on the driver.
"""
from __future__ import annotations

import re

# Header names accepted as evidence of an RFC 5322 message head; the
# same tuple drives the Catalyst sniff in rawbytes.detect_format_bytes
# (parity-pinned by tests/test_email.py).
EML_HEADERS: tuple[str, ...] = (
    "received:", "return-path:", "delivered-to:", "from:", "to:",
    "subject:", "date:", "mime-version:", "message-id:",
)

_MBOX_SPLIT = re.compile(rb"\r?\n(?=From )")
_MBOXRD_UNQUOTE = re.compile(rb"(?m)^>(>*From )")
_MBOXRD_QUOTE = re.compile(rb"(?m)^(>*From )")


def _body_leaves(msg) -> list:
    """Leaf parts in message order; multipart/alternative keeps only
    its last text-capable alternative (RFC 2046 §5.1.4)."""
    if msg.is_multipart():
        subs = msg.get_payload()
        if msg.get_content_subtype() == "alternative":
            pick = None
            for s in subs:
                if s.is_multipart() or s.get_content_maintype() == "text":
                    pick = s
            if pick is None and subs:
                pick = subs[-1]
            return _body_leaves(pick) if pick is not None else []
        out = []
        for s in subs:
            out.extend(_body_leaves(s))
        return out
    return [msg]


def decode_eml_spans(b: bytes) -> list[tuple[str, str | None, str | None]]:
    """(kind, text, media_ref) span tuples from one RFC 5322 message.

    Header block first (present headers only, RFC 2047-decoded), then
    one span per body leaf. A text leaf whose transfer-encoding or
    charset is broken degrades to a ``media`` span tagged
    ``attach:defective:<content-type>`` rather than poisoning the row
    (the corrupt-row guard upstream only catches whole-message
    failures).

    Implementation: structure parsing runs under the legacy compat32
    policy — ``policy.default`` re-parses Content-Type through the
    headerregistry grammar on EVERY ``get_content_type`` call (the
    feedparser alone issues ~15 per message; profiled ~4 ms/message,
    dominating eml ingest wall time) while compat32 uses the O(len)
    split parser and agrees on every well-formed header. The two
    places where policy.default SEMANTICS are visible in the output
    keep them exactly: the four display headers go through
    ``policy.default.header_fetch_parse`` verbatim (compat32 and
    EmailPolicy share the same ``header_source_parse``, so the raw
    value it sees is identical), and text content replays
    ``raw_data_manager.get_text_content`` line for line
    (payload CTE-decode + charset param + ``errors='replace'``).
    A differential test (tests/test_email.py) pins this fast path to
    the policy.default walk over the fixture corpus including
    defective mutations.
    """
    import email
    from email import policy

    msg = email.message_from_bytes(b)  # compat32: fast structure parse
    out: list[tuple[str, str | None, str | None]] = []
    hdr = []
    for h in ("Subject", "From", "To", "Date"):
        v = msg.get(h)
        if v:
            # exactly policy.default's header fetch: the raw source
            # value through the rfc2047-decoding header factory
            hdr.append(f"{h}: {policy.default.header_fetch_parse(h, v)}")
    if hdr:
        out.append(("text", "\n".join(hdr), None))
    for part in _body_leaves(msg):
        ctype = part.get_content_type()
        if ctype.split("/", 1)[0] == "text":
            try:
                # raw_data_manager.get_text_content(part) replayed:
                payload = part.get_payload(decode=True)
                charset = part.get_param("charset", "ASCII")
                content = payload.decode(charset, errors="replace")
            except Exception:
                out.append(("media", None, f"attach:defective:{ctype}"))
                continue
            out.append(
                ("html" if ctype == "text/html" else "text", content, None)
            )
        else:
            out.append(("media", None, f"attach:{part.get_filename() or ctype}"))
    return out


def decode_mbox_messages(b: bytes) -> list[bytes]:
    """RFC 4155 mbox walk: split on From_ separator lines, drop the
    separator, undo mboxrd ``>From`` quoting. Returns one raw message
    per entry; not-an-mbox input returns []."""
    if not b.startswith(b"From "):
        return []
    out = []
    for chunk in _MBOX_SPLIT.split(b):
        nl = chunk.find(b"\n")
        if nl < 0:
            continue
        body = _MBOXRD_UNQUOTE.sub(rb"\1", chunk[nl + 1:])
        if body.strip():
            out.append(body)
    return out


# ---------------------------------------------------------------------------
# Fixture writers — hand-rolled RFC 5322/2045 serialization, kept
# INDEPENDENT of the stdlib generator so the decoder is exercised on
# bytes it did not itself produce (same stance as the CFB/.doc and PDF
# fixture encoders in rawbytes).
# ---------------------------------------------------------------------------


def make_fixture_eml(
    body: str,
    subject: str = "Msg",
    html: bool = False,
    attach: str | None = None,
) -> bytes:
    """Multipart/mixed message around a multipart/alternative: RFC 2047
    base64 subject word, quoted-printable UTF-8 plain part, optionally
    a base64 html alternative (which then wins the alternative pick)
    and a base64 application/pdf attachment."""
    import base64
    import quopri

    sb = base64.b64encode(subject.encode("utf-8")).decode("ascii")
    qp = quopri.encodestring(body.encode("utf-8")).decode("ascii")
    alt = [
        "--AA",
        "Content-Type: text/plain; charset=utf-8",
        "Content-Transfer-Encoding: quoted-printable",
        "",
        qp,
    ]
    if html:
        hb = base64.b64encode(
            ("<html><body><p>" + body + "</p></body></html>").encode("utf-8")
        ).decode("ascii")
        hb = "\r\n".join(hb[i:i + 72] for i in range(0, len(hb), 72))
        alt += [
            "--AA",
            "Content-Type: text/html; charset=utf-8",
            "Content-Transfer-Encoding: base64",
            "",
            hb,
        ]
    alt.append("--AA--")
    lines = [
        "From: Alice <alice@example.org>",
        "To: bob@example.org",
        f"Subject: =?utf-8?b?{sb}?=",
        "Date: Mon, 01 Jan 2024 00:00:00 +0000",
        "MIME-Version: 1.0",
        'Content-Type: multipart/mixed; boundary="BB"',
        "",
        "--BB",
        'Content-Type: multipart/alternative; boundary="AA"',
        "",
        *alt,
    ]
    if attach:
        ab = base64.b64encode(b"%PDF-1.4\n%fixture\n").decode("ascii")
        lines += [
            "--BB",
            'Content-Type: application/pdf; name="a.pdf"',
            "Content-Transfer-Encoding: base64",
            f'Content-Disposition: attachment; filename="{attach}"',
            "",
            ab,
        ]
    lines += ["--BB--", ""]
    return "\r\n".join(lines).encode("utf-8")


def make_fixture_mbox(msgs: list[bytes]) -> bytes:
    """mbox archive from raw messages: From_ separator per message,
    mboxrd-quote any body line that would read as a separator."""
    out = []
    for m in msgs:
        out.append(b"From alice@example.org Mon Jan  1 00:00:00 2024\r\n")
        qm = _MBOXRD_QUOTE.sub(rb">\1", m)
        out.append(qm if qm.endswith(b"\n") else qm + b"\r\n")
    return b"".join(out)
