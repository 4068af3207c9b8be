"""Property-based tests (hypothesis) for the pure-function kernels.

These cover the determinism SPECs that the distributed paths rely on:
the byte→text extractor (the byte-identical invariant of the pipeline)
and the config tokenizer (the front-end's lexical contract). Pure Python
— no SparkSession, so hundreds of examples run in seconds.
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from beholder_spark.config import Token, template_fields, tokenize
from beholder_spark.functions.textextract import extract_text

# ---------------------------------------------------------------------------
# extract_text SPEC properties
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.none(), st.binary(max_size=2000)))
def test_extract_total_and_deterministic(payload):
    """Never raises on arbitrary bytes; same input → same output."""
    a = extract_text(payload)
    b = extract_text(payload)
    assert a == b
    if payload is None:
        assert a is None
    else:
        assert isinstance(a, str)


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=1, max_size=2000))
def test_extract_whitespace_normalized(payload):
    """Output never contains whitespace runs, tabs/newlines, or
    leading/trailing whitespace (SPEC step 7)."""
    out = extract_text(payload)
    assert out == out.strip()
    assert not re.search(r"\s\s", out)
    assert not re.search(r"[\t\n\r\f\v]", out)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")), max_size=200))
def test_extract_plain_text_passthrough(s):
    """Markup-free single-token-run text passes through verbatim."""
    out = extract_text(s.encode("utf-8"))
    assert out == s.strip()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcdef123", min_size=1, max_size=8),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from(["p", "div", "span", "h1"]),
)
def test_extract_strips_balanced_tags(words, tag):
    """Words wrapped in balanced tags come back as the space-joined words."""
    html = "".join(f"<{tag}>{w}</{tag}>" for w in words).encode()
    assert extract_text(html) == " ".join(words)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abc <>&;ltgamp#39quo\"'", max_size=100))
def test_extract_entity_unescape_order(s):
    """&amp; is unescaped LAST (SPEC step 6): '&amp;lt;' must yield the
    literal '&lt;' text, never '<'."""
    out = extract_text(("x &amp;lt; y " + s).encode())
    assert out.startswith("x &lt; y")


# ---------------------------------------------------------------------------
# config tokenizer properties
# ---------------------------------------------------------------------------

_WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz_$0123456789", min_size=1, max_size=12)


@settings(max_examples=200, deadline=None)
@given(st.lists(_WORD, min_size=1, max_size=8))
def test_tokenize_words_roundtrip(words):
    toks = tokenize(" ".join(words))
    assert [t.value for t in toks] == words
    assert all(t.kind == "word" for t in toks)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_characters="'\\\x00", blacklist_categories=("Cs",)), max_size=50))
def test_tokenize_quoted_roundtrip(body):
    """Any quote-free text survives quoting: tokenize("'<body>'") == body."""
    toks = tokenize(f"'{body}'")
    assert len(toks) == 1 and toks[0] == Token("quoted", body)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcdef.*+?[](){}|^", max_size=30))
def test_tokenize_regex_literal(body):
    toks = tokenize(f"~{body}~" if "~" not in body else "~x~")
    assert toks[0].kind == "regex"


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from("abcdef_"), min_size=1, max_size=8))
def test_template_fields_found(chars):
    name = "".join(chars)
    assert template_fields(f"pre {{${name}}} post") == [name]
    assert template_fields(f"pre ${name}") == [name]
    assert template_fields("no fields here") == []


@settings(max_examples=300, deadline=None)
@given(
    st.dictionaries(
        st.text(st.characters(blacklist_categories=("Cs",)), max_size=30),
        st.one_of(st.none(), st.text(st.characters(blacklist_categories=("Cs",)), max_size=200)),
        max_size=12,
    )
)
def test_fieldpack_roundtrip_property(fields):
    """P4 codec: pack∘unpack is identity on the non-NULL entries for
    ARBITRARY unicode keys/values (quotes, newlines, emoji, multi-byte
    boundaries exercising the LEB128 lengths)."""
    from beholder_spark.operators.parse import fieldpack_pack, fieldpack_unpack

    got = fieldpack_unpack(fieldpack_pack(fields))
    assert got == {k: v for k, v in fields.items() if v is not None}


@settings(max_examples=500, deadline=None)
@example(bytes([0xFB, 0x01, 0x80, 0x00]))  # overlong uvarint: must be rejected
@given(st.binary(max_size=200))
def test_fieldpack_unpack_never_crashes(buf):
    """Fuzz the strict decoder: arbitrary bytes either decode to a dict
    (valid frame) or return None — never raise (a crashing parser would
    fail whole Arrow batches on one poison frame)."""
    from beholder_spark.operators.parse import fieldpack_pack, fieldpack_unpack

    out = fieldpack_unpack(buf)
    assert out is None or isinstance(out, dict)
    if out is not None:
        # any ACCEPTED frame must be canonical: re-packing reproduces it
        assert fieldpack_pack(out) == bytes(buf)


# ---------------------------------------------------------------------------
# GIF LZW + WARC grammar (pure-function kernels)
# ---------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    st.binary(min_size=1, max_size=400),
    st.integers(min_value=2, max_value=8),
)
def test_gif_lzw_literal_encode_decode_roundtrip(raw, mcs):
    """The literal-code encoder and the general LZW decoder agree for
    every index stream whose values fit the code size."""
    from beholder_spark.operators import multimodal as mm

    indices = bytes(b % (1 << mcs) for b in raw)
    stream = mm._gif_lzw_encode_literals(indices, mcs)
    assert mm._gif_lzw_decode(stream, mcs, len(indices)) == indices


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300), st.integers(min_value=2, max_value=8), st.integers(min_value=1, max_value=64))
def test_gif_lzw_decode_total_on_junk(data, mcs, n_pixels):
    """Arbitrary bytes either decode to exactly n_pixels indices or
    return None — never raise, never over/under-produce."""
    from beholder_spark.operators import multimodal as mm

    out = mm._gif_lzw_decode(data, mcs, n_pixels)
    assert out is None or len(out) == n_pixels


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.binary(max_size=200), min_size=1, max_size=5),
    st.booleans(),
)
def test_warc_record_framing_roundtrip_any_bodies(bodies, gzipped):
    """Arbitrary byte bodies (including ones containing CRLF and fake
    'WARC/1.0' lines) survive the Content-Length framing byte-exactly,
    plain or as gzip members."""
    import hashlib
    import zlib

    from beholder_spark.operators import parse as P

    recs = [
        P._warc_record(b"resource", b"u:%d" % i, b"d", b"application/octet-stream", b)
        for i, b in enumerate(bodies)
    ]
    seg = b"".join(recs)
    if gzipped:
        def member(r):
            c = zlib.compressobj(6, zlib.DEFLATED, 31)
            return c.compress(r) + c.flush()
        seg = b"".join(member(r) for r in recs)
    rows = P._warc_segment_rows(1, seg)
    assert len(rows) == len(bodies)
    for row, body in zip(rows, bodies):
        assert row[8] is True
        assert (row[6], row[7]) == (len(body), hashlib.md5(body).hexdigest())


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_warc_segment_rows_total_on_junk(data):
    """Any byte soup yields >=1 row and never raises (P7: ids never
    vanish, violations are countable)."""
    from beholder_spark.operators import parse as P

    rows = P._warc_segment_rows(3, data)
    assert len(rows) >= 1
    assert all(r[0] == 3 for r in rows)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=300))
def test_mp3_and_image_decoders_total_on_junk(data):
    """decode_image_bytes / parse_mp3_meta_bytes are total over arbitrary
    bytes: a tuple comes back, never an exception."""
    from beholder_spark.operators import multimodal as mm

    assert len(mm.decode_image_bytes(data)) == 7
    assert len(mm.parse_mp3_meta_bytes(data)) == 5
