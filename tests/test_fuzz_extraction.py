"""Property-based fuzz of the extraction core (SURVEY.md §5.2.3).

The UDF contract (operators/extract.py) requires extract_document to NEVER
raise — a failed doc becomes an ``error`` column, not a dead task
(/root/reference/app/main.py:438-441 semantics) — and to be deterministic,
since golden byte-identity rests on it. Hypothesis drives three surfaces:

* arbitrary bytes through the sniffing dispatch (any payload, any route);
* structured-but-pathological HTML (mis-nesting, truncation, entities,
  attribute garbage, marked sections html.parser raises on) through the
  DOM builder, which must also build the same tree as html.parser's own
  feed/close drive (the spec in test_extraction_core);
* determinism: same input twice → identical output object-wide.

No Spark involved: these pin the pure-Python core the Arrow stage wraps.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from document_converter_api_spark.extraction.boilerplate import (
    PRUNE_TAGS,
    deny_attrs,
)
from document_converter_api_spark.extraction.core import extract_document
from document_converter_api_spark.extraction.html_dom import parse_html
from tests.test_extraction_core import dom_shape, parse_html_stdlib

TAGS = ["p", "div", "h1", "h2", "li", "ul", "ol", "em", "strong", "a",
        "span", "table", "tr", "td", "script", "style", "nav", "footer",
        "main", "article", "br", "img", "blockquote", "pre", "code"]

text_chunk = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)


@st.composite
def html_soup(draw) -> str:
    """Well- or ill-formed HTML fragments: random open/close/void tags,
    entities, attribute garbage, truncation."""
    parts = ["<html><body>"]
    for _ in range(draw(st.integers(0, 30))):
        kind = draw(st.integers(0, 5))
        tag = draw(st.sampled_from(TAGS))
        if kind == 0:
            attrs = draw(st.sampled_from(
                ["", " class=nav", ' href="x?a=1&b=2"', " data-x='<>'",
                 ' class="content main"']))
            parts.append(f"<{tag}{attrs}>")
        elif kind == 1:
            parts.append(f"</{tag}>")
        elif kind == 2:
            parts.append(draw(text_chunk))
        elif kind == 3:
            parts.append(draw(st.sampled_from(
                ["&amp;", "&lt;", "&nbsp;", "&#65;", "&#x1F600;", "&bogus;",
                 "&", "<!--", "-->", "<!-- comment -->", "<![ x",
                 "<![ x]]>", "<![foo[", "<![CDATA[raw]]>", "<!doctype html>",
                 "<?pi?>", "</ bogus>"])))
        elif kind == 4:
            parts.append(f"<{tag}/>")
        else:
            parts.append(draw(st.sampled_from(["<", ">", "</", "<a hr"])))
    suffix = draw(st.sampled_from(["</body></html>", "", "</bo"]))
    return "".join(parts) + suffix


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_arbitrary_bytes_never_raise(payload):
    res = extract_document(payload, "https://fuzz.example/x")
    assert (res.markdown is None) != (res.error is None) or res.markdown == ""
    res2 = extract_document(payload, "https://fuzz.example/x")
    assert res.markdown == res2.markdown and res.error == res2.error


@settings(max_examples=150, deadline=None)
@given(html_soup())
def test_pathological_html_never_raises_and_is_deterministic(soup):
    payload = soup.encode("utf-8")
    res = extract_document(payload, "https://fuzz.example/p.html", "html")
    assert res.error is None, f"html path must not error: {res.error}"
    assert isinstance(res.markdown, str)
    res2 = extract_document(payload, "https://fuzz.example/p.html", "html")
    assert res.markdown == res2.markdown


@pytest.mark.parametrize("suppress", [False, True],
                         ids=["full_tree", "suppressed"])
@settings(max_examples=150, deadline=None)
@given(html_soup())
def test_parse_html_equals_stdlib_drive(suppress, soup):
    """One drive in production, html.parser's feed/close drive as the
    spec: same tree, including after html.parser raises mid-document."""
    args = (PRUNE_TAGS, deny_attrs) if suppress else ()
    assert dom_shape(parse_html(soup, *args)) == \
        dom_shape(parse_html_stdlib(soup, *args))


@settings(max_examples=80, deadline=None)
@given(text_chunk, text_chunk)
def test_script_style_payload_never_leaks(scr, sty):
    # whatever the surrounding chaos, script/style text must not appear
    marker_s = "SCRIPTMARKER" + "x"
    marker_y = "STYLEMARKER" + "y"
    html = (f"<html><body><script>{marker_s}{scr}</script>"
            f"<style>{marker_y}{sty}</style><p>keep me</p></body></html>")
    res = extract_document(html.encode("utf-8"), "https://f.example/s.html",
                           "html")
    assert res.error is None
    assert marker_s not in res.markdown
    assert marker_y not in res.markdown


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_corrupted_encrypted_pdfs_never_raise(data):
    """Byte-level corruption of genuinely encrypted PDFs (all three
    Standard-handler variants) must always degrade to an error column or
    (possibly empty) text — never an uncaught exception from the
    decrypt/key-derivation path (round-3 surface)."""
    from tests.test_pdf_robustness import build_encrypted_pdf

    variant = data.draw(st.sampled_from(
        [(1, 2, 40, False), (2, 3, 128, False), (4, 4, 128, True)]))
    v, r, bits, aes = variant
    pdf = bytearray(build_encrypted_pdf(
        ["Fuzz line one.", "And two."], v=v, r=r, length_bits=bits, aes=aes))
    n_flips = data.draw(st.integers(1, 12))
    for _ in range(n_flips):
        pos = data.draw(st.integers(0, len(pdf) - 1))
        pdf[pos] = data.draw(st.integers(0, 255))
    res = extract_document(bytes(pdf), "https://fuzz.example/enc.pdf")
    # the degradation contract: exactly one of (markdown, error), or
    # empty-string markdown — and deterministic
    assert (res.markdown is None) != (res.error is None) or res.markdown == ""
    res2 = extract_document(bytes(pdf), "https://fuzz.example/enc.pdf")
    assert res.markdown == res2.markdown and res.error == res2.error
