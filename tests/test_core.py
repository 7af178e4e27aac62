"""Golden-fixture conformance tests for the pure-Python core parser.

Mirrors the reference's Jest golden suite
(/root/reference/test/MicrodataRdfParser-test.ts) via graph
isomorphism, like its ``toBeRdfIsomorphic`` matcher.
"""

import pytest

from microdata_rdf_streaming_parser_js_spark.fixtures import FIXTURES
from microdata_rdf_streaming_parser_js_spark.functions.isomorphism import (
    diff_summary,
    is_isomorphic,
)
from microdata_rdf_streaming_parser_js_spark.functions.microdata import parse_html


@pytest.mark.parametrize("fixture", FIXTURES, ids=[f.name for f in FIXTURES])
def test_fixture(fixture):
    actual = parse_html(fixture.html, fixture.base_iri)
    assert is_isomorphic(actual, fixture.expected), diff_summary(
        actual, fixture.expected
    )


def test_url_property_schemeless_base_errors():
    """Stream-error parity (reference MicrodataRdfParser.ts:325-333 +
    relative-to-absolute-iri): a URL property against a schemeless
    base IRI must raise (-> quarantine in the pipeline), not emit the
    raw attribute value as an IRI."""
    from microdata_rdf_streaming_parser_js_spark.functions.iri import (
        InvalidIriError,
    )

    html = (
        '<div itemscope itemtype="http://schema.org/Thing">'
        '<a itemprop="url" href="page.html">x</a></div>'
    )
    with pytest.raises(InvalidIriError, match="invalid baseIRI"):
        parse_html(html, "no-scheme-base")
    # absolute href against the same broken base resolves fine (the
    # resolver only needs the base when the IRI is relative)
    ok = parse_html(html.replace("page.html", "http://x.example/p"), "no-scheme-base")
    assert any(
        t.obj == "http://x.example/p" and t.obj_kind == "iri" for t in ok
    )
    # literal-only items never touch the resolver
    lit = parse_html(
        '<div itemscope itemtype="http://schema.org/Thing">'
        '<span itemprop="name">ok</span></div>',
        "no-scheme-base",
    )
    assert len(lit) == 2


# ---------------------------------------------------------------------------
# boilerplate removal kernel
# ---------------------------------------------------------------------------

def test_main_content_drops_nav_and_footer():
    from microdata_rdf_streaming_parser_js_spark.functions.boilerplate import (
        extract_main_content,
    )

    html = (
        '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>'
        "<p>A long paragraph of genuine article prose without any links "
        "inside it, which must be kept.</p>"
        '<footer><a href="/about">About</a> <a href="/contact">Contact</a>'
        "</footer>"
    )
    url, text, n_blocks, n_kept, err = extract_main_content("u", html)
    assert err is None
    assert "genuine article prose" in text
    assert "Home" not in text and "About" not in text
    assert n_kept == 1 and n_blocks == 3


def test_main_content_link_density_boundary():
    from microdata_rdf_streaming_parser_js_spark.functions.boilerplate import (
        extract_main_content,
    )

    # exactly 1/3 anchor chars: floor(10*1e6/30) = 333333 > 330000 -> drop
    body = "x" * 20
    anchor = "y" * 10
    html = f'<p>{body}<a href="z">{anchor}</a></p>'
    _, text, _, n_kept, _ = extract_main_content("u", html)
    assert n_kept == 0 and text == ""
    # one fewer anchor char: floor(9*1e6/29) = 310344 <= 330000 -> keep
    html2 = f'<p>{body}<a href="z">{anchor[:-1]}</a></p>'
    _, text2, _, n_kept2, _ = extract_main_content("u", html2)
    assert n_kept2 == 1 and text2 == body + anchor[:-1]


def test_main_content_script_and_min_length():
    from microdata_rdf_streaming_parser_js_spark.functions.boilerplate import (
        extract_main_content,
    )

    html = (
        "<script>var very_long_variable_name_goes_here = 12345678;</script>"
        "<p>short</p>"
        "<p>This paragraph clears the minimum block length easily.</p>"
    )
    _, text, n_blocks, n_kept, err = extract_main_content("u", html)
    assert err is None
    assert "var " not in text and "short" not in text
    assert n_kept == 1 and n_blocks == 2


def test_main_content_whitespace_normalized_blocks():
    from microdata_rdf_streaming_parser_js_spark.functions.boilerplate import (
        extract_main_content,
    )

    html = "<div>  spread \n across\t many   whitespace  runs in one block </div>"
    _, text, _, n_kept, _ = extract_main_content("u", html)
    assert text == "spread across many whitespace runs in one block"
    assert n_kept == 1


def test_compress_ratio_u_repetitive_vs_prose():
    from microdata_rdf_streaming_parser_js_spark.functions.text import (
        compress_ratio_u,
    )

    rep = compress_ratio_u("spam " * 200)
    import random

    rng = random.Random(7)
    prose = compress_ratio_u(
        " ".join(
            "".join(rng.choice("abcdefghijklmnop") for _ in range(6))
            for _ in range(200)
        )
    )
    assert rep[2] < prose[2]  # templated text compresses much harder
    assert rep[0] == 1000 and rep[1] > 0
    assert compress_ratio_u("") == (0, 0, 0)
    # deterministic
    assert compress_ratio_u("hello world") == compress_ratio_u("hello world")


def test_rows_fn_yields_kernel_rows_per_batch_in_schema_order():
    """The one Arrow crossing: kernel(*row) over ``in_cols`` yields 0,
    1 or many rows; one frame per batch, columns in schema order, and a
    batch whose rows all yield nothing is an empty frame, not skipped."""
    import pandas as pd

    from microdata_rdf_streaming_parser_js_spark.operators.rows import rows_fn

    fn = rows_fn(lambda k, n: [(n, k)] * n, ["k", "n"], ["n", "k"])
    batches = [
        pd.DataFrame({"x": [9, 9, 9], "n": [0, 1, 3], "k": ["a", "b", "c"]}),
        pd.DataFrame({"x": [9], "n": [0], "k": ["z"]}),
    ]
    out = list(fn(iter(batches)))
    assert len(out) == 2
    assert [list(f.columns) for f in out] == [["n", "k"], ["n", "k"]]
    assert out[0].values.tolist() == [[1, "b"], [3, "c"], [3, "c"], [3, "c"]]
    assert out[1].empty


def test_extract_page_rows_quarantine_and_base_iri():
    from microdata_rdf_streaming_parser_js_spark.operators.extract import (
        MAX_HTML_BYTES,
        TRIPLE_COLS,
        _extract_page,
    )

    url = "http://u.example/dir/"
    html = (
        '<div itemscope itemtype="http://schema.org/Thing">'
        '<a itemprop="url" href="p.html">x</a></div>'
    )

    def objs(rows):
        assert all(len(r) == len(TRIPLE_COLS) and r[-1] is None for r in rows)
        return {r[3] for r in rows}

    # no base_iri column: the page url is the base
    assert "http://u.example/dir/p.html" in objs(_extract_page(url, html))
    assert "http://b.example/p.html" in objs(
        _extract_page(url, html.encode("utf-8"), "http://b.example/")
    )
    # a null base_iri parses with base "" (never falls back to the url),
    # so the relative href quarantines the page
    [row] = _extract_page(url, html, None)
    assert row[:-1] == (url,) + (None,) * 6
    assert row[-1].startswith("InvalidIriError: Found invalid baseIRI ''")

    assert _extract_page(url, None) == [
        (url,) + (None,) * 6 + ("ValueError: null html",)
    ]
    big = b"a" * (MAX_HTML_BYTES + 1)
    assert _extract_page(url, big) == [
        (url,) + (None,) * 6
        + (f"ValueError: html too large: {MAX_HTML_BYTES + 1} bytes",)
    ]
