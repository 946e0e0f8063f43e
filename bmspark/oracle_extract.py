"""Pure-Python reference extractor — the byte-identity oracle.

The reference pipeline's correctness contract is its codec layer: decoding
a telemetry payload must yield exactly the fields the wire carried
(codec_gpb.go / codec_json.go, upstream final branch; golden fixtures in
mdt_msg_samples/). The graft's analog (BASELINE.json input_hint) is:
*byte-identical extracted text per url*.

This module is that contract's single source of truth. The SAME functions
run (a) batch-at-a-time inside the vectorized pandas UDF
(bmspark.functions.parse) and (b) row-at-a-time in pytest as the oracle —
so the Spark path can never drift from the reference semantics without a
test failing.

Everything here operates on raw ``bytes`` and never lets a str/bytes
round-trip alter the payload (SURVEY.md §7 "hard parts" #1).
"""

from __future__ import annotations

import re
import zlib

# Precompiled byte-level patterns (compiled once per process / per executor
# Python worker — the parse UDF closure carries this module, mirroring the
# reference's startup-compiled metrics spec, metrics.go upstream).
_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title>", re.DOTALL | re.IGNORECASE)
_PARA_RE = re.compile(rb"<p[^>]*>(.*?)</p>", re.DOTALL | re.IGNORECASE)
_LINK_RE = re.compile(rb"""<a\s[^>]*href\s*=\s*["']([^"']*)["']""", re.IGNORECASE)
_CHARSET_RE = re.compile(rb"""<meta[^>]*charset\s*=\s*["']?([A-Za-z0-9_\-]+)""", re.IGNORECASE)
_TAG_RE = re.compile(rb"<[^>]+>")
_ZLIB_MAGIC = (b"\x78\x01", b"\x78\x9c", b"\x78\xda")


def maybe_decompress(payload: bytes) -> bytes:
    """Transparent zlib inflation — analog of the reference's ST-framing
    compressed flag (xport_tcp.go upstream: 12-byte header, zlib flag)."""
    if payload[:2] in _ZLIB_MAGIC:
        try:
            return zlib.decompress(payload)
        except zlib.error:
            return payload
    return payload


def extract(html: bytes | None, lenient: bool = False) -> dict:
    """Extract structured fields from raw html bytes.

    Returns a dict with keys:
      title: str|None     — first <title> content, utf-8 (replace errors)
      text_bytes: bytes   — concatenated <p> payloads, RAW BYTES (the
                            byte-identity field); b"" if none
      text: str|None      — text_bytes decoded strict utf-8, None if the
                            payload is not valid utf-8 (→ deadletter route)
      links: list[str]    — href values in document order
      n_links: int
      charset: str|None
      n_bytes: int        — raw payload size
      parse_ok: bool      — False on empty/undecodable payload
    """
    if html is None or len(html) == 0:
        return {
            "title": None, "text_bytes": b"", "text": None, "links": [],
            "n_links": 0, "charset": None, "n_bytes": 0, "parse_ok": False,
        }
    raw = maybe_decompress(bytes(html))
    title_m = _TITLE_RE.search(raw)
    title = None
    if title_m:
        title = title_m.group(1).decode("utf-8", errors="replace")
    paras = _PARA_RE.findall(raw)
    text_bytes = b"\n".join(paras)
    if not paras and lenient:
        # salvage mode (deadletter reprocessing): no <p> structure →
        # strip tags from the whole payload and keep what decodes.
        stripped = _TAG_RE.sub(b" ", raw).strip()
        if stripped:
            paras = [stripped]
            text_bytes = stripped
    if not paras:
        # no extractable content (e.g. truncated markup) → deadletter;
        # the reference likewise counts undecodable payloads as drops
        text = None
        ok = False
    else:
        try:
            text = text_bytes.decode("utf-8")
            ok = True
        except UnicodeDecodeError:
            text = None
            ok = False
    links = [href.decode("utf-8", errors="replace") for href in _LINK_RE.findall(raw)]
    charset_m = _CHARSET_RE.search(raw)
    charset = charset_m.group(1).decode("ascii", errors="replace").lower() if charset_m else None
    return {
        "title": title,
        "text_bytes": text_bytes,
        "text": text,
        "links": links,
        "n_links": len(links),
        "charset": charset,
        "n_bytes": len(raw),
        "parse_ok": ok,
    }
