"""Deterministic Common-Crawl-style synthetic corpus generator (M0).

Produces the canonical input table ``(url:string, warc_ts:timestamp,
html:binary, text:string, lang:string)`` (BASELINE.json input_hint).
Every document is generated from ``random.Random(f"{seed}:{doc_id}")``
— per-doc seeding, so output is independent of generation order,
batching, and partitioning; regenerating any subset yields identical
bytes. No wall clock anywhere.

Document mix (by per-doc RNG):
- ~43% template "gcc"  — the web-page analog of the reference's GCC
  report pages (extract_gcc_report_text_ou.py): signal strength line,
  12 slot values, Average/Minimum anchored pairs.
- ~43% template "rnfl" — ONH/RNFL analog
  (extract_onh_rnfl_report_text_ou.py): μm unit noise, reversed-token
  noise, quadrant + clock-hour sections.
- ~10% generic article (no extractable fields).
- ~1.5% dirty rows: empty / truncated / invalid-UTF8 (→ quarantine).
- ~0.5% huge pages (hundreds of KB) — the size-skew rows that the
  byte-bounded scan splits and Arrow batches must absorb (SURVEY.md
  §7.3 risk 3).
- ~8% of docs carry a non-'en' lang tag (filtered out by the job's
  routing predicate, the DocumentTitle-LIKE analog).

All chrome (nav/footer link farms) must be stripped by the
boilerplate scorer; prose vocabulary is screened against every rule
anchor substring so field pullers only ever fire on planted anchors.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Prose vocabulary — screened below against every anchor substring used
# by the rule layer, so random prose can never trip a field puller.
_VOCAB = (
    "the report shows stable features over repeated sessions with good "
    "focus and steady fixation throughout each test pass results were "
    "within expected bounds for this cohort and no artifacts were noted "
    "by the operator during capture follow up is suggested at the usual "
    "interval patient tolerated the procedure well equipment was "
    "serviced recently and output quality stayed high across all runs "
    "lighting conditions were controlled and alignment held steady"
).split()

_BANNED_SUBSTRINGS = (
    "ave", "min", "rnfl", "clock", "hours", "quadrant", "diversified",
    "normative", "signal", "ganglion", "symmetry", "rim", "disc", "cup",
    "vol", "vertical", "cd", "c/d", "%", "/",
)
for _w in _VOCAB:
    for _b in _BANNED_SUBSTRINGS:
        assert _b not in _w.lower(), f"vocab word {_w!r} contains anchor {_b!r}"

_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "en", "en", "en", "de", "fr", "es")

_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _prose(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n_words))


def _nav(rng: random.Random) -> str:
    links = "".join(
        f'<a href="https://other-{rng.randrange(100)}.example/p{j}">related page {j} listing</a> '
        for j in range(rng.randrange(6, 14))
    )
    return f"<nav><ul><li>{links}</li></ul></nav>"


def _footer(rng: random.Random) -> str:
    links = "".join(
        f'<a href="/about{j}">site about {j}</a> | ' for j in range(rng.randrange(4, 9))
    )
    return f"<footer><div>{links}</div></footer>"


def _chrome_head(title: str, doc_id: int | None = None) -> str:
    """Page chrome with a typed-metadata head (S12 analog). All head
    metadata derives from doc_id ONLY — no rng draws — so enriching the
    head never shifts the body/url random streams. Presence varies by
    doc_id residues so absent-field paths are exercised; the description
    carries an HTML entity to exercise unescaping."""
    extra = ""
    if doc_id is not None:
        if doc_id % 5 != 0:
            extra += (
                f'<meta name="description" content="Summary &amp; notes for '
                f'{title} page {doc_id}">'
            )
        if doc_id % 3 != 0:
            extra += f'<link rel="canonical" href="https://canonical.example.org/p/{doc_id}">'
        if doc_id % 7 != 0:
            og = "article" if doc_id % 2 else "website"
            extra += f'<meta property="og:type" content="{og}">'
    return (
        "<!DOCTYPE html><html><head>"
        f"<meta charset=\"utf-8\"><title>{title}</title>{extra}"
        "<style>body{margin:0;font:14px sans}.x{color:#333}</style>"
        "<script>var q=1;function t(){return q+1}</script>"
        "</head><body>"
    )


def _val(rng: random.Random, lo: float, hi: float, nd: int = 1) -> str:
    return f"{rng.uniform(lo, hi):.{nd}f}"


def _ival(rng: random.Random, lo: int, hi: int) -> str:
    return str(rng.randrange(lo, hi))


# Must mirror rules.GCC_SLOT_PERMUTATION (extract_gcc_report_text_ou.py:113-136)
_GCC_TRUTH_PERM = (
    ("S_OD", 0), ("S_OS", 6), ("SN_OD", 2), ("SN_OS", 7), ("IN_OD", 4),
    ("IN_OS", 9), ("I_OD", 5), ("I_OS", 11), ("IT_OD", 3), ("IT_OS", 10),
    ("ST_OD", 1), ("ST_OS", 8),
)


def _gcc_body(rng: random.Random) -> tuple[str, dict[str, str]]:
    """Template A: mirrors the value layout the GCC rules expect.

    Returns (html_body, truth) where truth maps field label → the value
    the extractor must recover — an independent per-document oracle.
    """
    truth: dict[str, str] = {}
    ss_od, ss_os = rng.randrange(5, 11), rng.randrange(5, 11)
    variant = rng.randrange(3)
    if variant == 0:  # both values on the anchor line (len(r1)==2 path)
        sig = f"<p>Signal Strength: {ss_od}/10 {ss_os}/10</p>"
        truth["signal_strength_od"], truth["signal_strength_os"] = f"{ss_od}/10", f"{ss_os}/10"
    elif variant == 1:  # one on the line, one after (len(r1)==1 path)
        sig = f"<p>Signal Strength: {ss_od}/10</p><p>{ss_os}*</p>"
        truth["signal_strength_od"], truth["signal_strength_os"] = f"{ss_od}/10", f"{ss_os}*"
    else:  # none on the line (r1==[] path)
        sig = f"<p>Signal Strength</p><p>{ss_od}of10</p><p>{ss_os}of10</p>"
        truth["signal_strength_od"], truth["signal_strength_os"] = f"{ss_od}of10", f"{ss_os}of10"
    # column-header line: carries the '/' that anchors gcc_search_range
    # even when the signal-strength regex variant has no '/' on its line
    sig += "<p>OD Eye / OS Eye</p>"
    slot_vals = [_val(rng, 55, 110) for _ in range(12)]
    for label, idx in _GCC_TRUTH_PERM:
        truth[label] = slot_vals[idx]
    slots = "".join(f"<p>{v}</p>" for v in slot_vals)
    avg_od, avg_os = _val(rng, 60, 100), _val(rng, 60, 100)
    min_od, min_os = _val(rng, 50, 95), _val(rng, 50, 95)
    truth.update(
        avg_thickness_od=avg_od, avg_thickness_os=avg_os,
        min_thickness_od=min_od, min_thickness_os=min_os,
    )
    body = (
        "<article><h1>Ganglion Cell Analysis Report</h1>"
        f"<p>{_prose(rng, rng.randrange(25, 60))}</p>"
        f"{sig}"
        f"{slots}"
        "<p>Average GCL+IPL Thickness</p>"
        f"<p>{avg_od}</p><p>{avg_os}</p>"
        "<p>Minimum GCL+IPL Thickness</p>"
        f"<p>{min_od}</p><p>{min_os}</p>"
        f"<p>{_prose(rng, rng.randrange(20, 45))}</p>"
        "</article>"
    )
    return body, truth


# Must mirror rules.RNFL_QUADRANT_PERMUTATION
# (extract_onh_rnfl_report_text_ou.py:196-203)
_RNFL_QUAD_TRUTH_PERM = (
    ("S_OD", 0), ("S_OS", 1), ("T_OD", 2), ("T_OS", 5),
    ("N_OD", 3), ("N_OS", 4), ("I_OD", 6), ("I_OS", 7),
)
# (hour, od_seg, od_idx, os_seg, os_idx) — mirrors rules.RNFL_CLOCK_PERMUTATION
# (extract_onh_rnfl_report_text_ou.py:232-255)
_RNFL_CLOCK_TRUTH_PERM = (
    (1, 0, 3, 0, 5), (2, 0, 7, 0, 9), (3, 1, 1, 1, 3), (4, 2, 1, 3, 1),
    (5, 3, 4, 3, 7), (6, 3, 3, 3, 6), (7, 3, 2, 3, 5), (8, 2, 0, 3, 0),
    (9, 1, 0, 1, 2), (10, 0, 6, 0, 8), (11, 0, 2, 0, 4), (12, 0, 0, 0, 1),
)


def _rnfl_body(rng: random.Random) -> tuple[str, dict[str, str]]:
    """Template B: quadrants + clock hours + unit/reversal noise.

    Returns (html_body, truth) — truth values are post-normalization
    (μm repaired, % token un-reversed, ^2 suffixed, clock tokens
    un-reversed), i.e. what the extractor must emit.
    """
    truth: dict[str, str] = {}
    ss_od, ss_os = rng.randrange(5, 11), rng.randrange(5, 11)
    truth["signal_strength_od"], truth["signal_strength_os"] = f"{ss_od}/10", f"{ss_os}/10"
    avg_od, avg_os = _ival(rng, 60, 120), _ival(rng, 60, 120)
    truth["avg_rnfl_thickness_od"] = f"{avg_od} μm"
    truth["avg_rnfl_thickness_os"] = f"{avg_os} μm"
    sym = _ival(rng, 40, 100)
    # half the docs carry the reversed-token OCR artifact: '%66' for '66%'
    sym_tok = (sym + "%")[::-1] if rng.random() < 0.5 else sym + "%"
    truth["rnfl_symmetry"] = sym + "%"

    def clock_val() -> tuple[str, str]:
        # some clock tokens arrive reversed (OCR artifact): a value ending
        # in '0' is written backwards, so the token starts with '0' and the
        # extractor's fix_reversed_zero recovers the true value
        v = _ival(rng, 40, 160)
        if v[-1] == "0" and rng.random() < 0.5:
            return v[::-1], v
        return v, v

    segs = [
        [clock_val() for _ in range(10)],
        [clock_val() for _ in range(4)],
        [clock_val() for _ in range(2)],
        [clock_val() for _ in range(8)],
    ]
    for hour, od_seg, od_idx, os_seg, os_idx in _RNFL_CLOCK_TRUTH_PERM:
        truth[f"clock_{hour}_od"] = segs[od_seg][od_idx][1]
        truth[f"clock_{hour}_os"] = segs[os_seg][os_idx][1]
    seg_html = ["".join(f"<p>{tok}</p>" for tok, _ in seg) for seg in segs]

    quad_vals = [_ival(rng, 50, 160) for _ in range(8)]
    for label, idx in _RNFL_QUAD_TRUTH_PERM:
        truth[f"quadrant_{label}"] = quad_vals[idx]
    quads = "".join(f"<p>{v}</p>" for v in quad_vals)

    def pair(label: str, lo: float, hi: float, nd: int, suffix: str = "") -> str:
        v1, v2 = _val(rng, lo, hi, nd), _val(rng, lo, hi, nd)
        truth[f"{label}_od"], truth[f"{label}_os"] = v1 + suffix, v2 + suffix
        return f"<p>{v1}</p><p>{v2}</p>"

    body = (
        "<article><h1>ONH and RNFL OU Analysis Report</h1>"
        f"<p>{_prose(rng, rng.randrange(25, 60))}</p>"
        f"<p>Signal Strength: {ss_od}/10 {ss_os}/10</p>"
        "<p>Average RNFL Thickness</p>"
        f"<p>{avg_od} m</p><p>{avg_os} m</p>"
        "<p>RNFL Symmetry</p>"
        f"<p>{sym_tok}</p>"
        f"<p>Rim Area</p>{pair('rim_area', 0.8, 1.8, 2, '^2')}"
        f"<p>Disc Area</p>{pair('disc_area', 1.2, 2.6, 2, '^2')}"
        f"<p>Average C&#47;D Ratio</p>{pair('avg_cd_ratio', 0.3, 0.8, 2)}"
        f"<p>Vertical C&#47;D Ratio</p>{pair('vert_cd_ratio', 0.3, 0.8, 2)}"
        f"<p>Cup Volume</p>{pair('cup_volume', 0.05, 0.9, 3, '^2')}"
        "<p>Diversified Distribution</p>"
        f"{quads}"
        "<p>Quadrants Summary</p>"
        "<p>Sector Detail Table</p><p>OD OS Pairing</p>"
        f"{seg_html[0]}"
        "<p>RNFL Segments</p>"
        f"{seg_html[1]}"
        "<p>Clock Positions</p>"
        f"{seg_html[2]}"
        "<p>Hours Map</p>"
        f"{seg_html[3]}"
        f"<p>{_prose(rng, rng.randrange(20, 45))}</p>"
        "</article>"
    )
    return body, truth


def _generic_body(rng: random.Random, huge: bool = False) -> str:
    n_paras = rng.randrange(4, 10) if not huge else rng.randrange(800, 2400)
    paras = "".join(f"<p>{_prose(rng, rng.randrange(30, 80))}</p>" for _ in range(n_paras))
    return f"<article><h1>General interest article</h1>{paras}</article>"


def make_doc(seed: int, doc_id: int) -> dict:
    """One fully deterministic document row."""
    rng = random.Random(f"{seed}:{doc_id}")
    roll = rng.random()
    lang = rng.choice(_LANGS)
    ts = _BASE_TS + dt.timedelta(seconds=doc_id * 37 % (365 * 86400))

    truth: dict[str, str] = {}
    if roll < 0.015:  # dirty rows
        kind = rng.randrange(3)
        if kind == 0:
            html, template = b"", "dirty-empty"
        elif kind == 1:
            page = _chrome_head("truncated page", doc_id) + _nav(rng)
            html, template = page.encode("utf-8")[:120], "dirty-truncated"
        else:
            html, template = b"\xff\xfe\x00\x9c" + bytes(rng.randrange(256) for _ in range(64)), "dirty-utf8"
    elif roll < 0.02:  # huge skew page
        body = _generic_body(rng, huge=True)
        html = (_chrome_head("huge page", doc_id) + _nav(rng) + body + _footer(rng) + "</body></html>").encode("utf-8")
        template = "huge"
    else:
        r2 = rng.random()
        if r2 < 0.46:
            (body, truth), template = _gcc_body(rng), "gcc"
            title = "GCC OU Analysis"
        elif r2 < 0.92:
            (body, truth), template = _rnfl_body(rng), "rnfl"
            title = "ONH and RNFL OU Analysis"
        else:
            body, template = _generic_body(rng), "generic"
            title = "article"
        html = (_chrome_head(title, doc_id) + _nav(rng) + body + _footer(rng) + "</body></html>").encode("utf-8")

    naive_text = None
    if template not in ("dirty-empty", "dirty-utf8"):
        # naive pre-extraction text column: crude tag strip, boilerplate included
        import re as _re

        naive_text = _re.sub(r"<[^>]+>", " ", html.decode("utf-8", errors="replace"))
        naive_text = _re.sub(r"\s+", " ", naive_text).strip()[:4000]

    return {
        "url": f"https://site-{rng.randrange(1000):03d}.example.com/{template}/{doc_id}",
        "warc_ts": ts,
        "html": html,
        "text": naive_text,
        "lang": lang,
        "_template": template,  # not written to parquet; used by tests
        "_truth": truth,  # label → expected extracted value; used by tests
    }


SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def n_docs_for_sf(sf: float) -> int:
    return max(1, int(round(500_000 * sf)))


def generate_parquet(out_path: str, sf: float, seed: int = 42, row_group_docs: int = 500) -> int:
    """Write the corpus for scale factor ``sf`` to one parquet file.

    Row groups are written incrementally so huge corpora never sit fully
    in memory. Returns the number of documents written.

    Row groups are the parallelism floor for scan-aligned extraction
    (parquet splits cannot cut inside a row group): 500 docs ≈ 0.6 MB
    gives a sf0.1 corpus ~80 splits for 32 cores, where 2000-doc groups
    capped it at 25 tasks and idled a third of the machine. Document
    BYTES are unchanged by this knob — only the parquet layout.
    """
    n = n_docs_for_sf(sf)
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    # write-then-rename: a crashed/interrupted generation must never
    # leave a truncated file at the final path, because ensure_corpus
    # treats existence as completeness
    tmp_path = out_path + ".tmp"
    writer = pq.ParquetWriter(tmp_path, SCHEMA, compression="zstd")
    try:
        for lo in range(0, n, row_group_docs):
            hi = min(lo + row_group_docs, n)
            rows = [make_doc(seed, i) for i in range(lo, hi)]
            batch = pa.record_batch(
                [
                    pa.array([r["url"] for r in rows], pa.string()),
                    pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
                    pa.array([r["html"] for r in rows], pa.binary()),
                    pa.array([r["text"] for r in rows], pa.string()),
                    pa.array([r["lang"] for r in rows], pa.string()),
                ],
                schema=SCHEMA,
            )
            writer.write_batch(batch)
    except BaseException:
        writer.close()
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
        raise
    writer.close()
    os.replace(tmp_path, out_path)
    return n


def corpus_path(root: str, sf: float, seed: int = 42) -> str:
    # v2: head carries the typed metadata projection (title/description/
    # canonical/og:type) — the version tag invalidates stale caches
    return os.path.join(root, f"corpus_v2_sf{sf}_seed{seed}", "documents_html.parquet")


def ensure_corpus(root: str, sf: float, seed: int = 42) -> str:
    """Generate-if-missing cache used by tests and bench."""
    path = corpus_path(root, sf, seed)
    if not os.path.exists(path):
        generate_parquet(path, sf, seed)
    return path


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or corpus_path(os.path.join(os.path.dirname(__file__), "..", "..", ".cache"), args.sf, args.seed)
    n = generate_parquet(out, args.sf, args.seed)
    print(f"wrote {n} docs to {out}")
