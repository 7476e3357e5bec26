"""HTML decode + block segmentation + boilerplate scoring (stdlib only).

This is the web-page analog of the reference's document-decode and
layout-segmentation stages:

- decode (D2): DICOM bytes → embedded PDF
  (/root/reference/extract_gcc_report_text_ou.py:46-51) ⇒ here:
  ``html: bytes`` → unicode with charset sniffing.
- parse/render (D3): PDF → raster page
  (/root/reference/extract_gcc_report_text_ou.py:52-56) ⇒ here:
  HTML → flat block stream via a few stdlib ``re`` passes (no lxml or
  other parser library, so byte-identity of goldens cannot drift with
  a C-library version).
- region segmentation (D4): fixed pixel crops
  (/root/reference/extract_gcc_report_text_ou.py:59-64) ⇒ here:
  block-level tag segmentation + text-density / link-density scoring
  (Boilerpipe/trafilatura-class heuristic) selecting main-content blocks.
- ordered line emission (D5): PaddleOCR ``txts`` list
  (/root/reference/extract_gcc_report_text_ou.py:72) ⇒ here: one
  whitespace-normalized text line per kept block, document order.

Everything here is pure and deterministic: no wall clock, no dict-order
dependence, no external libraries.
"""

from __future__ import annotations

import re
from html import unescape as _unescape

# Tags that open/close a text block. Flat segmentation: any block-level
# boundary ends the current run of text (one chunk of extract_lines).
_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li td th dt dd pre blockquote article
    section main aside header footer nav figure figcaption table tr ul
    ol form fieldset address summary details""".split()
)
# Subtrees whose text is never content.
_IGNORE_TAGS = frozenset("script style noscript template svg head title".split())

_WS_RE = re.compile(r"\s+")

# Boilerplate thresholds (frozen constants — part of the byte-identity
# contract; changing them invalidates golden fixtures).
MAX_LINK_DENSITY = 1.0 / 3.0
MIN_CONTENT_CHARS = 25
_DIGIT_RE = re.compile(r"\d")
_KEYVAL_RE = re.compile(r"^[^:]{1,60}:\s*\S")


# --- segmentation regexes -----------------------------------------------------
#
# Segmentation runs entirely in C-level regex passes: remove
# comments/declarations/ignored subtrees, split at block-tag boundaries,
# strip inline tags, count anchor text. Differential-tested for
# identical kept-line output against an html.parser reference
# segmenter over the synthetic corpus (tests/test_extract_core.py), the
# semantic arbiter. Known divergences (tag soup like `5 < 6 > 4`,
# anchors spanning block boundaries) are covered by the differential
# test — if it passes, behavior is frozen by the goldens.

_IGNORE_ALT = "|".join(sorted(_IGNORE_TAGS))
_BLOCK_ALT = "|".join(sorted(_BLOCK_TAGS))
# one pass of comment → ignore-subtree → declaration removal; comments
# come first in the alternation, so `<!--` never parses as a declaration
_STRIP_RE = re.compile(
    rf"<!--.*?(?:-->|$)|<({_IGNORE_ALT})\b[^>]*>.*?(?:</\1[^>]*>|$)|<[!?][^>]*(?:>|$)",
    re.S | re.I,
)
_BLOCK_SPLIT_RE = re.compile(rf"</?(?:{_BLOCK_ALT})\b[^>]*>|<br\b[^>]*>", re.I)
_A_RE = re.compile(r"<a\b[^>]*>(.*?)(?:</a\b[^>]*>|$)", re.S | re.I)
_TAGSTRIP_RE = re.compile(r"<[a-zA-Z/][^>]*>")


_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.I)

# --- typed head-metadata projection (S12 depth, VERDICT r01 item 7) ---------
#
# The web analog of the reference's typed DICOM attribute projection
# (/root/reference/utils.py:1602-1619: 14 ds.* attrs → one dict row per
# document). Here the document's self-describing header is the <head>
# element; the projection is (title, meta_description, charset,
# canonical_url, og_type), each None when absent — same contract as the
# reference's try/except per-attr read. Pure regex over the decoded
# text: deterministic, no parser-library version drift.

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.S | re.I)
_META_DESC_RE = re.compile(
    r"<meta\s[^>]*?name\s*=\s*[\"']?description[\"']?[^>]*?content\s*=\s*\"([^\"]*)\"",
    re.S | re.I,
)
_META_DESC_RE2 = re.compile(
    r"<meta\s[^>]*?content\s*=\s*\"([^\"]*)\"[^>]*?name\s*=\s*[\"']?description[\"']?",
    re.S | re.I,
)
_CANONICAL_RE = re.compile(
    r"<link\s[^>]*?rel\s*=\s*[\"']?canonical[\"']?[^>]*?href\s*=\s*\"([^\"]*)\"",
    re.S | re.I,
)
_OG_TYPE_RE = re.compile(
    r"<meta\s[^>]*?property\s*=\s*[\"']og:type[\"'][^>]*?content\s*=\s*\"([^\"]*)\"",
    re.S | re.I,
)
_CHARSET_TXT_RE = re.compile(r"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.I)
_HEAD_CLOSE_RE = re.compile(r"</head\s*>", re.I)


def _first(pattern: re.Pattern, text: str) -> str | None:
    m = pattern.search(text)
    if not m:
        return None
    from html import unescape

    return _WS_RE.sub(" ", unescape(m.group(1))).strip() or None


def page_metadata(html_text: str) -> dict[str, str | None]:
    """Extract the 5-field typed head projection from decoded HTML.

    Only the document prefix up to ``</head>`` (or the first 16 KiB if
    no head close exists — truncated/dirty pages) is scanned, so a
    multi-MB page costs O(head), not O(page). The head close is matched
    case-insensitively (``</HEAD>`` counts), consistent with every
    extraction regex in this module (ADVICE r02)."""
    m = _HEAD_CLOSE_RE.search(html_text)
    head = html_text[: m.end()] if m else html_text[:16384]
    return {
        "title": _first(_TITLE_RE, head),
        "meta_description": _first(_META_DESC_RE, head) or _first(_META_DESC_RE2, head),
        "charset": (_first(_CHARSET_TXT_RE, head) or "").lower() or None,
        "canonical_url": _first(_CANONICAL_RE, head),
        "og_type": _first(_OG_TYPE_RE, head),
    }


def decode_html(html: bytes) -> str:
    """Charset-sniffing decode (D2 analog). utf-8 strict first, then a
    declared ``<meta charset=…>``, then latin-1 (lossless byte map).
    Raises UnicodeDecodeError only if even latin-1 fails (it can't),
    but deliberately raises ValueError on undecodable declared charsets
    combined with invalid utf-8 so dirty fixtures land in quarantine.
    """
    if html.startswith(b"\xef\xbb\xbf"):
        html = html[3:]
    try:
        return html.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        pass
    m = _CHARSET_RE.search(html[:2048])
    if m:
        enc = m.group(1).decode("ascii", errors="ignore").lower()
        if enc not in ("utf-8", "utf8"):
            try:
                return html.decode(enc, errors="strict")
            except (UnicodeDecodeError, LookupError):
                pass
    raise ValueError("undecodable html payload")


def extract_lines(html_text: str) -> tuple[list[str], int]:
    """Full D3→D5 chain: HTML text → ordered main-content lines.

    Returns (lines, n_blocks_total). ``lines`` is the ``txts`` analog —
    the positionally ordered list every rule indexes into
    (extract_gcc_report_text_ou.py:72).

    Main-content classifier (D4 scoring), inlined per chunk: a block
    survives boilerplate stripping when its link density is at most
    ``MAX_LINK_DENSITY`` AND it is either long enough to be prose, or
    short but plausibly a label/value line: digit-bearing,
    ``key: value``-shaped, or a fully link-free line of ≥8 chars
    (anchor headings like ``Rim Area``) — the analog of the reference
    keeping every OCR line, including short value lines like
    ``Signal Strength 8/10`` (extract_gcc_report_text_ou.py:84-103).
    Link-farm nav/footer chrome has link density ≈ 1 and is dropped
    regardless of length. ``lc * 3 > n`` is the exact integer form of
    ``link_density > 1/3``: float(lc)/float(n) rounds the true ratio
    to the same double as float(1)/float(3) whenever lc/n == 1/3, so
    the integer compare and the float compare agree on every input
    (tests/test_extract_core.py pins it against the html.parser
    reference segmenter)."""
    text = _STRIP_RE.sub("", html_text)
    lines: list[str] = []
    total = 0
    for chunk in _BLOCK_SPLIT_RE.split(text):
        if not chunk:
            continue
        link_chars = 0
        if "<" in chunk:
            if "<a" in chunk or "<A" in chunk:
                for m in _A_RE.finditer(chunk):
                    inner = _TAGSTRIP_RE.sub("", m.group(1))
                    if "&" in inner:
                        inner = _unescape(inner)
                    link_chars += len(" ".join(inner.split()))
            chunk = _TAGSTRIP_RE.sub("", chunk)
        if "&" in chunk:
            chunk = _unescape(chunk)
        t = " ".join(chunk.split())
        if not t:
            continue
        total += 1
        n = len(t)
        lc = min(link_chars, n)
        if lc * 3 > n:  # link_density > MAX_LINK_DENSITY (exact)
            continue
        if (
            n >= MIN_CONTENT_CHARS
            or _DIGIT_RE.search(t)
            or _KEYVAL_RE.match(t)
            or (lc == 0 and n >= 8)
        ):
            lines.append(t)
    return lines, total
