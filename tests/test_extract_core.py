"""Golden-fixture byte-identity suite for the pure extraction core.

The primary correctness gate (SURVEY.md §5.2(1), BASELINE.json
input_hint): ``extract_one`` must reproduce the committed golden bytes
exactly, and must recover every planted ground-truth field value from
the deterministic corpus generator.
"""

import json
import os
from dataclasses import dataclass
from html.parser import HTMLParser

import pytest

from oct_report_ocr_spark.extract import extract_one
from oct_report_ocr_spark.extract.htmlseg import (
    _BLOCK_TAGS,
    _DIGIT_RE,
    _IGNORE_TAGS,
    _KEYVAL_RE,
    _WS_RE,
    MAX_LINK_DENSITY,
    MIN_CONTENT_CHARS,
)
from oct_report_ocr_spark.synth.gen_corpus import make_doc

from .conftest import FIXTURES

GOLDEN = os.path.join(FIXTURES, "golden")
PAGES = os.path.join(FIXTURES, "pages")

with open(os.path.join(GOLDEN, "INDEX.json")) as _f:
    CASES = json.load(_f)


def _load(case):
    with open(os.path.join(PAGES, f"{case}.html"), "rb") as f:
        html = f.read()
    with open(os.path.join(GOLDEN, f"{case}.txt"), "rb") as f:
        text = f.read()
    with open(os.path.join(GOLDEN, f"{case}.spans.json")) as f:
        spans = json.load(f)
    with open(os.path.join(GOLDEN, f"{case}.meta.json")) as f:
        meta = json.load(f)
    return html, text, spans, meta


@pytest.mark.parametrize("case", CASES)
def test_golden_byte_identity(case):
    html, golden_text, golden_spans, meta = _load(case)
    r = extract_one(html, meta["url"])
    assert (r.extracted_text or "").encode("utf-8") == golden_text
    assert [
        {"label": s.label, "start": s.start, "end": s.end, "text": s.text, "line_idx": s.line_idx}
        for s in r.spans
    ] == golden_spans
    assert r.error == meta["error"]
    assert r.template == meta["template"]
    assert r.n_lines == meta["n_lines"]
    assert r.meta == meta["meta"]  # typed head projection (S12)


@pytest.mark.parametrize("case", CASES)
def test_spans_point_into_extracted_text(case):
    html, _, _, meta = _load(case)
    r = extract_one(html, meta["url"])
    for s in r.spans:
        assert s.start >= 0 and s.end <= len(r.extracted_text)
        # a span either locates the value verbatim or covers the source
        # line the normalized value was derived from (audit contract D8)
        region = r.extracted_text[s.start : s.end]
        assert s.text == region or s.text in (region + "^2", region) or region != ""


def test_truth_recovery_bulk():
    """Every planted field value across 800 generated docs is recovered."""
    total = ok = 0
    for i in range(800):
        d = make_doc(42, i)
        if d["_template"] not in ("gcc", "rnfl"):
            continue
        r = extract_one(d["html"], d["url"])
        got = {s.label: s.text for s in r.spans}
        for label, want in d["_truth"].items():
            total += 1
            ok += got.get(label) == want
    assert total > 10_000
    assert ok == total


def test_dirty_rows_quarantine_never_raise():
    """D9 semantics: malformed payloads yield error rows, not exceptions."""
    cases = [
        (b"", "empty"),
        (None, "empty"),
        (b"\xff\xfe\x00\x9cgarbage\x80\x81", "decode-error"),
        (b"<html><head><style>x" , "no-content"),
    ]
    for html, want in cases:
        r = extract_one(html, "u")
        assert r.error == want
        assert r.extracted_text is None


def test_extraction_is_pure():
    """Same input twice → identical output (no hidden state)."""
    d = make_doc(42, 7)
    r1, r2 = extract_one(d["html"], d["url"]), extract_one(d["html"], d["url"])
    assert r1 == r2


# --- html.parser reference segmenter ----------------------------------------
#
# The semantic arbiter for extract_lines: a stdlib html.parser walk that
# builds one Block per block-level run of text and scores it with the
# same thresholds. Production segments with regex passes only
# (htmlseg.extract_lines); this reference exists to test it.


@dataclass
class Block:
    text: str  # whitespace-normalized
    n_chars: int
    n_link_chars: int
    n_tags: int
    depth: int

    @property
    def link_density(self) -> float:
        return self.n_link_chars / self.n_chars if self.n_chars else 1.0


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._buf: list[str] = []
        self._ignore_depth = 0
        self._link_depth = 0
        self._depth = 0
        self._n_link_chars = 0
        self._n_tags = 0

    def _flush(self) -> None:
        raw = "".join(self._buf)
        text = _WS_RE.sub(" ", raw).strip()
        if text:
            self.blocks.append(
                Block(
                    text=text,
                    n_chars=len(text),
                    n_link_chars=min(self._n_link_chars, len(text)),
                    n_tags=self._n_tags,
                    depth=self._depth,
                )
            )
        self._buf = []
        self._n_link_chars = 0
        self._n_tags = 0

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag in _IGNORE_TAGS:
            self._ignore_depth += 1
            return
        if self._ignore_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
            self._depth += 1
        else:
            self._n_tags += 1
        if tag == "a":
            self._link_depth += 1
        if tag == "br":
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _IGNORE_TAGS:
            self._ignore_depth = max(0, self._ignore_depth - 1)
            return
        if self._ignore_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()
            self._depth = max(0, self._depth - 1)

    def handle_startendtag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "br" and not self._ignore_depth:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._ignore_depth:
            return
        self._buf.append(data)
        if self._link_depth:
            # count normalized-ish chars inside anchors; exactness of the
            # whitespace accounting doesn't matter, only determinism does
            self._n_link_chars += len(_WS_RE.sub(" ", data).strip())

    def close(self) -> None:  # type: ignore[override]
        super().close()
        self._flush()


def segment_blocks(html_text: str) -> list[Block]:
    """Parse HTML into an ordered flat list of text blocks (D3/D4)."""
    p = _BlockParser()
    p.feed(html_text)
    p.close()
    return p.blocks


def keep_block(b: Block) -> bool:
    """Main-content classifier (D4 scoring).

    A block survives boilerplate stripping when its link density is low
    AND it is either long enough to be prose, or short but plausibly a
    label/value line: digit-bearing, ``key: value``-shaped, or a fully
    link-free line of ≥8 chars (anchor headings like ``Rim Area``) — the
    analog of the reference keeping every OCR line, including short
    value lines like ``Signal Strength 8/10``
    (extract_gcc_report_text_ou.py:84-103). Link-farm nav/footer chrome
    has link_density ≈ 1 and is dropped regardless of length.
    """
    if b.link_density > MAX_LINK_DENSITY:
        return False
    if b.n_chars >= MIN_CONTENT_CHARS:
        return True
    if _DIGIT_RE.search(b.text) or _KEYVAL_RE.match(b.text):
        return True
    return b.n_link_chars == 0 and b.n_chars >= 8


def test_turbo_scanner_matches_htmlparser_reference():
    """The regex segmenter (extract_lines) must agree with the
    html.parser reference segmenter on the kept lines and the block
    count, across the corpus (including dirty/huge docs). The
    reference is the arbiter."""
    from oct_report_ocr_spark.extract import htmlseg

    checked = 0
    for i in range(1500):
        d = make_doc(42, i)
        if d["_template"] in ("dirty-empty", "dirty-utf8"):
            continue
        try:
            text = htmlseg.decode_html(d["html"])
        except (ValueError, UnicodeDecodeError):
            continue
        ref = segment_blocks(text)
        lines, n_blocks = htmlseg.extract_lines(text)
        assert lines == [b.text for b in ref if keep_block(b)], d["url"]
        assert n_blocks == len(ref), d["url"]
        checked += 1
    assert checked > 1000


def test_link_density_boundary_exact():
    """lc*3 > n (extract_lines) must agree with lc/n > 1/3 (the
    reference's Block path) at the exact boundary: a 30-char line with
    exactly 10 link chars is KEPT by both (density == 1/3 is not > 1/3)."""
    for n, lc in [(30, 10), (3, 1), (24, 8), (9, 3)]:
        b = Block(text="x" * n, n_chars=n, n_link_chars=lc, n_tags=0, depth=0)
        assert (lc * 3 > n) == (b.link_density > 1 / 3)
    html = "<p>" + "a" * 20 + " <a href='/x'>" + "b" * 10 + "</a></p>"
    from oct_report_ocr_spark.extract.htmlseg import extract_lines

    lines, _ = extract_lines(html)
    assert lines  # 31 chars incl. space, 10 link chars → kept


def test_page_metadata_planted_truth():
    """page_metadata must recover the head metadata the generator plants
    (deterministic doc_id residues — see gen_corpus._chrome_head)."""
    from oct_report_ocr_spark.extract import htmlseg

    checked = 0
    for i in range(400):
        d = make_doc(42, i)
        if d["_template"].startswith("dirty"):
            continue
        m = htmlseg.page_metadata(htmlseg.decode_html(d["html"]))
        assert m["charset"] == "utf-8"
        assert m["title"] in ("GCC OU Analysis", "ONH and RNFL OU Analysis", "article", "huge page")
        if i % 5 != 0:
            assert m["meta_description"] == f"Summary & notes for {m['title']} page {i}"
        else:
            assert m["meta_description"] is None
        if i % 3 != 0:
            assert m["canonical_url"] == f"https://canonical.example.org/p/{i}"
        else:
            assert m["canonical_url"] is None
        if i % 7 != 0:
            assert m["og_type"] == ("article" if i % 2 else "website")
        else:
            assert m["og_type"] is None
        checked += 1
    assert checked > 300


def test_page_metadata_edge_cases():
    from oct_report_ocr_spark.extract.htmlseg import page_metadata

    # attribute order reversed, single quotes, entity in title
    m = page_metadata(
        "<head><meta content=\"rev order\" name='description'>"
        "<title> A &amp; B </title></head>"
    )
    assert m["title"] == "A & B"
    assert m["meta_description"] == "rev order"
    assert m["charset"] is None
    # no head close: only the first 16 KiB scanned
    far = "x" * 20000 + "<title>too late</title>"
    assert page_metadata(far)["title"] is None
    # og:type and canonical
    m = page_metadata(
        '<head><link rel="canonical" href="https://e.com/a">'
        '<meta property="og:type" content="video"></head>'
    )
    assert m["canonical_url"] == "https://e.com/a"
    assert m["og_type"] == "video"
    # empty content → None, not ""
    assert page_metadata('<head><title>  </title></head>')["title"] is None


def test_page_metadata_uppercase_head_close():
    """The head close is matched case-insensitively, like every other
    extraction regex in htmlseg (ADVICE r02: '</HEAD>' pages silently
    fell back to the 16 KiB prefix and dropped later head metadata)."""
    from oct_report_ocr_spark.extract.htmlseg import page_metadata

    # metadata beyond 16 KiB but inside an upper-case-closed head must
    # still be found
    pad = '<meta name="x" content="' + "y" * 17000 + '">'
    html = "<HEAD>" + pad + "<TITLE>Shouty Page</TITLE></HEAD>"
    assert page_metadata(html)["title"] == "Shouty Page"
    # whitespace before '>' also counts
    assert page_metadata("<head><title>t</title></head >")["title"] == "t"
