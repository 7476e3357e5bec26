"""Property tests for the round-2 pure kernels: image decode and the
head-metadata puller (no Spark session needed)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from oct_report_ocr_spark.extract.htmlseg import page_metadata
from oct_report_ocr_spark.sources.multimodal import (
    CorruptImage,
    decode_image,
    make_bmp,
    make_ppm,
)

dims = st.tuples(st.integers(1, 40), st.integers(1, 24), st.integers(0, 255))


@given(dims)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip(whs):
    w, h, seed = whs
    gw, gh, r, g, b = decode_image(make_bmp(w, h, seed=seed))
    assert (gw, gh) == (w, h)
    # make_bmp stores channel byte c (B, G, R) of pixel (row, col) as
    # (seed + 7*row + 3*col + c) % 256: exact sums in a Python loop
    sums = [
        sum((seed + 7 * row + 3 * col + c) % 256 for row in range(h) for col in range(w))
        for c in range(3)
    ]
    assert (r, g, b) == tuple(s / (w * h) / 255.0 for s in sums[::-1])


@given(dims)
@settings(max_examples=60, deadline=None)
def test_ppm_roundtrip(whs):
    w, h, seed = whs
    gw, gh, r, g, b = decode_image(make_ppm(w, h, seed=seed))
    assert (gw, gh) == (w, h)
    # make_ppm's sample i is (seed + i) % 256, channel i % 3 (R, G, B)
    sums = [sum((seed + i) % 256 for i in range(c, 3 * w * h, 3)) for c in range(3)]
    assert (r, g, b) == tuple(s / (w * h) / 255.0 for s in sums)


@given(dims, st.integers(1, 40))
@settings(max_examples=40, deadline=None)
def test_truncated_bmp_never_decodes_silently(whs, cut):
    """Any strict prefix of a valid BMP must raise (quarantine), never
    return wrong dimensions/means."""
    import pytest

    w, h, seed = whs
    full = make_bmp(w, h, seed=seed)
    prefix = full[: max(2, len(full) - cut)]
    if len(prefix) == len(full):
        return
    with pytest.raises((CorruptImage,)):
        decode_image(prefix)


# text free of the delimiters that would terminate the enclosing
# attribute/tag in our synthesized head
safe_text = st.text(
    alphabet=st.characters(
        blacklist_characters='<>"&',
        blacklist_categories=("Cs", "Cc"),
    ),
    min_size=1,
    max_size=60,
).filter(lambda s: s.strip())


@given(safe_text, safe_text)
@settings(max_examples=80, deadline=None)
def test_page_metadata_roundtrips_planted_values(title, desc):
    ws = " ".join  # the puller whitespace-normalizes values
    head = (
        f'<head><meta charset="utf-8"><title>{title}</title>'
        f'<meta name="description" content="{desc}">'
        f'<link rel="canonical" href="https://e.com/x">'
        f'<meta property="og:type" content="article"></head>'
    )
    m = page_metadata(head)
    assert m["title"] == ws(title.split())
    assert m["meta_description"] == ws(desc.split())
    assert m["charset"] == "utf-8"
    assert m["canonical_url"] == "https://e.com/x"
    assert m["og_type"] == "article"


@given(st.binary(min_size=0, max_size=4096))
@settings(max_examples=150, deadline=None)
def test_extract_one_total_on_arbitrary_bytes(payload):
    """D9 invariant under fuzz: extract_one NEVER raises — any byte
    soup yields either extracted text or an error row."""
    from oct_report_ocr_spark.extract import extract_one

    r = extract_one(payload, "fuzz://doc")
    assert (r.extracted_text is None) == (r.error is not None)
    if r.error is None:
        assert r.n_lines > 0


@given(st.binary(min_size=1, max_size=2048))
@settings(max_examples=80, deadline=None)
def test_extract_one_deterministic_under_fuzz(payload):
    from oct_report_ocr_spark.extract import extract_one

    assert extract_one(payload, "u") == extract_one(payload, "u")
