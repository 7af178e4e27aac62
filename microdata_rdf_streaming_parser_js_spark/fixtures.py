"""Golden conformance fixtures: (html, base_iri, expected triples).

Transcribed from the reference's golden Jest suite
(/root/reference/test/MicrodataRdfParser-test.ts — cited per case) —
the same cases the reference's 100%-coverage gate pins, spanning every
category of the W3C Microdata-to-RDF algorithm. These fixtures drive:

1. pure-core unit tests (tests/test_core.py) — graph isomorphism
2. the synthetic Common-Crawl-style ``pages`` corpus
   (sources/pages.py) used by the Spark pipeline tests and bench
3. the driver-facing extraction query oracle (__spark_entry__.py)

Expected triples use the tuple layout
(subj, pred, obj, obj_kind, obj_lang, obj_datatype); blank nodes are
``_:bN`` in document encounter order (deterministic in our parser,
isomorphism-compared in tests).
"""

from __future__ import annotations

from typing import NamedTuple

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
EX = "http://example.org/"
BASE = "http://example.org/document.html"

TEMPLATE = "<html>\n<head></head>\n<body>\n    %s\n</body>\n</html>"


def i(s, p, o):
    return (s, p, o, "iri", None, None)


def b(s, p, o):
    return (s, p, o, "blank", None, None)


def l(s, p, o, lang=None, dt=None):  # noqa: E743
    return (s, p, o, "literal", lang, dt)


class Fixture(NamedTuple):
    name: str
    category: str
    html: str
    base_iri: str
    expected: list


_F: list[Fixture] = []


def _add(name, category, body, expected, base_iri=BASE, raw=False):
    html = body if raw else TEMPLATE % body
    _F.append(Fixture(name, category, html, base_iri, expected))


# -- non-applicable documents (test:125-145) ---------------------------------
_add("empty_doc", "noop", "", [], raw=True)
_add(
    "no_itemscope",
    "noop",
    '<span>\n        <span itemprop="http://example.org/prop1">abc</span>\n'
    '        <span itemprop="http://example.org/prop2">def</span>\n    </span>',
    [],
)

# -- itemtype (test:146-285) --------------------------------------------------
_add("itemtype_empty", "itemtype", '<span itemscope itemtype=""></span>', [])
_add("itemtype_relative", "itemtype", '<span itemscope itemtype="Invalid"></span>', [])
_add(
    "itemtype",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type"></span>',
    [i("_:b0", RDF + "type", EX + "Type")],
)
_add(
    "itemtype_itemid",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type" itemid="http://example.org/id"></span>',
    [i(EX + "id", RDF + "type", EX + "Type")],
)
_add(
    "itemtype_relative_itemid",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type" itemid="id"></span>',
    [i(EX + "id", RDF + "type", EX + "Type")],
)
_add(
    "itemtype_relative_itemid_nobase",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type" itemid="id"></span>',
    [i("_:b0", RDF + "type", EX + "Type")],
    base_iri="",
)
_add(
    "itemtype_hash_itemid",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type" itemid="#id"></span>',
    [i(BASE + "#id", RDF + "type", EX + "Type")],
)
_add(
    "itemtype_multi_space",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type1 http://example.org/Type2"></span>',
    [i("_:b0", RDF + "type", EX + "Type1"), i("_:b0", RDF + "type", EX + "Type2")],
)
_add(
    "itemtype_multi_tab",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type1\thttp://example.org/Type2"></span>',
    [i("_:b0", RDF + "type", EX + "Type1"), i("_:b0", RDF + "type", EX + "Type2")],
)
_add(
    "itemtype_multi_newline",
    "itemtype",
    '<span itemscope itemtype="http://example.org/Type1\n    http://example.org/Type2"></span>',
    [i("_:b0", RDF + "type", EX + "Type1"), i("_:b0", RDF + "type", EX + "Type2")],
)

# -- itemprop (test:286-456) --------------------------------------------------
_add(
    "itemprop_text",
    "itemprop",
    '<span itemscope><span itemprop="http://example.org/prop">abc</span></span>',
    [l("_:b0", EX + "prop", "abc")],
)
_add(
    "itemprop_empty_value",
    "itemprop",
    '<span itemscope><span itemprop="http://example.org/prop"></span></span>',
    [l("_:b0", EX + "prop", "")],
)
_add(
    "itemprop_newlines",
    "itemprop",
    '<html>\n<head></head>\n<body>\n    <span itemscope>'
    '<span itemprop="http://example.org/prop">\n\na\n\n</span></span>\n</body>\n</html>',
    [l("_:b0", EX + "prop", "\n\na\n\n")],
    raw=True,
)
_add(
    "itemprop_subtags",
    "itemprop",
    '<html>\n<head></head>\n<body>\n    <span itemscope>'
    '<span itemprop="http://example.org/prop">\n\n<strong>\na\n</strong>\n\n</span></span>\n</body>\n</html>',
    [l("_:b0", EX + "prop", "\n\n\na\n\n\n")],
    raw=True,
)
_add(
    "itemprop_multi",
    "itemprop",
    '<span itemscope><span itemprop="http://example.org/prop1 http://example.org/prop2">abc</span></span>',
    [l("_:b0", EX + "prop1", "abc"), l("_:b0", EX + "prop2", "abc")],
)
_add(
    "itemprop_relative_vocab",
    "itemprop",
    '<span itemscope itemtype="http://example.org/Type"><span itemprop="prop">abc</span></span>',
    [i("_:b0", RDF + "type", EX + "Type"), l("_:b0", EX + "prop", "abc")],
)
_add(
    "itemprop_relative_hash_vocab",
    "itemprop",
    '<span itemscope itemtype="http://example.org#Type"><span itemprop="prop">abc</span></span>',
    [
        i("_:b0", RDF + "type", "http://example.org#Type"),
        l("_:b0", "http://example.org#prop", "abc"),
    ],
)
_add(
    "itemprop_relative_novocab",
    "itemprop",
    '<span itemscope><span itemprop="prop">abc</span></span>',
    [l("_:b0", BASE + "#prop", "abc")],
)
_add(
    "itemprop_relative_itemid",
    "itemprop",
    '<span itemscope itemtype="http://example.org/Type" itemid="http://example.org/id">'
    '<span itemprop="prop">abc</span></span>',
    [i(EX + "id", RDF + "type", EX + "Type"), l(EX + "id", EX + "prop", "abc")],
)
_add(
    "itemprop_surrounding_ws",
    "itemprop",
    '<html>\n<head></head>\n<body>\n    <span itemscope>\n'
    '        <span itemprop="http://example.org/prop">abc</span>\n    </span>\n</body>\n</html>',
    [l("_:b0", EX + "prop", "abc")],
    raw=True,
)
_add(
    "itemprop_multiple_props",
    "itemprop",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1">abc</span>\n'
    '        <span itemprop="http://example.org/prop2">def</span>\n'
    '        <span itemprop="http://example.org/prop3">ghi</span>\n    </span>',
    [
        l("_:b0", EX + "prop1", "abc"),
        l("_:b0", EX + "prop2", "def"),
        l("_:b0", EX + "prop3", "ghi"),
    ],
)
_add(
    "itemprop_hcard",
    "itemprop",
    '<span itemscope itemtype="http://microformats.org/profile/hcard">'
    '<span itemprop="prop">abc</span></span>',
    [
        i("_:b0", RDF + "type", "http://microformats.org/profile/hcard"),
        l("_:b0", "http://microformats.org/profile/hcard#prop", "abc"),
    ],
)

# -- itemprop-reverse (test:457-509) ------------------------------------------
_add(
    "reverse_string_ignored",
    "reverse",
    '<span itemscope><span itemprop-reverse="http://example.org/prop">abc</span></span>',
    [],
)
_add(
    "reverse_nested_itemscope",
    "reverse",
    '<span itemscope>\n        <span itemprop-reverse="http://example.org/prop1" itemscope'
    ' itemid="http://example.org/sub"></span>\n    </span>',
    [b(EX + "sub", EX + "prop1", "_:b0")],
)
_add(
    "forward_and_reverse_nested",
    "reverse",
    '<span itemscope>\n        <span itemprop="http://example.org/prop"'
    ' itemprop-reverse="http://example.org/propRev" itemscope itemid="http://example.org/sub"></span>\n    </span>',
    [i("_:b0", EX + "prop", EX + "sub"), b(EX + "sub", EX + "propRev", "_:b0")],
)
_add(
    "reverse_string_with_forward",
    "reverse",
    '<span itemscope><span itemprop="http://example.org/prop"'
    ' itemprop-reverse="http://example.org/propRev">abc</span></span>',
    [l("_:b0", EX + "prop", "abc")],
)

# -- special itemprops (test:510-763) ------------------------------------------
_add(
    "content_attr",
    "handlers",
    '<span itemscope><span itemprop="http://example.org/prop" content="def"></span></span>',
    [l("_:b0", EX + "prop", "def")],
)
_add(
    "content_ignores_text",
    "handlers",
    '<span itemscope><span itemprop="http://example.org/prop" content="def">abc</span></span>',
    [l("_:b0", EX + "prop", "def")],
)
for _tag, _attr in [
    ("a", "href"),
    ("area", "href"),
    ("audio", "src"),
    ("embed", "src"),
    ("iframe", "src"),
    ("img", "src"),
    ("link", "href"),
    ("object", "data"),
    ("source", "src"),
    ("track", "src"),
    ("video", "src"),
]:
    _add(
        f"url_{_tag}",
        "handlers",
        f'<span itemscope><{_tag} itemprop="http://example.org/prop"'
        f' {_attr}="http://ex.org/link"></{_tag}></span>',
        [i("_:b0", EX + "prop", "http://ex.org/link")],
    )
_add(
    "url_a_relative",
    "handlers",
    '<span itemscope itemtype="http://schema.org/"><a itemprop="http://example.org/prop" href="link"></a></span>',
    [i("_:b0", RDF + "type", "http://schema.org/"), i("_:b0", EX + "prop", EX + "link")],
)
_add(
    "url_a_missing_href",
    "handlers",
    '<span itemscope><a itemprop="http://example.org/prop"></a></span>',
    [l("_:b0", EX + "prop", "")],
)
_add(
    "data_integer",
    "handlers",
    '<span itemscope><data itemprop="http://example.org/prop" value="123"></data></span>',
    [l("_:b0", EX + "prop", "123", dt=XSD + "integer")],
)
_add(
    "data_double",
    "handlers",
    '<span itemscope><data itemprop="http://example.org/prop" value="123.321"></data></span>',
    [l("_:b0", EX + "prop", "123.321", dt=XSD + "double")],
)
_add(
    "data_string",
    "handlers",
    '<span itemscope><data itemprop="http://example.org/prop" value="not 123"></data></span>',
    [l("_:b0", EX + "prop", "not 123")],
)
_add(
    "meter_integer",
    "handlers",
    '<span itemscope><meter itemprop="http://example.org/prop" value="123"></meter></span>',
    [l("_:b0", EX + "prop", "123", dt=XSD + "integer")],
)
_add(
    "meter_double",
    "handlers",
    '<span itemscope><meter itemprop="http://example.org/prop" value="123.321"></meter></span>',
    [l("_:b0", EX + "prop", "123.321", dt=XSD + "double")],
)
_add(
    "meter_string",
    "handlers",
    '<span itemscope><meter itemprop="http://example.org/prop" value="not 123"></meter></span>',
    [l("_:b0", EX + "prop", "not 123")],
)

# -- time (test:765-935) --------------------------------------------------------
for _name, _value, _dt in [
    ("time_time", "00:00:00Z", "time"),
    ("time_datetime", "2012-03-18T00:00:00", "dateTime"),
    ("time_date", "2012-03-18", "date"),
    ("time_duration_full", "P2Y6M5DT12H35M30S", "duration"),
    ("time_duration_day_hour", "P1DT2H", "duration"),
    ("time_duration_month", "P20M", "duration"),
    ("time_duration_minute", "PT20M", "duration"),
    ("time_duration_opt_zero", "P0Y20M0D", "duration"),
    ("time_duration_zero_year", "P0Y", "duration"),
    ("time_duration_negative", "-P60D", "duration"),
    ("time_duration_decimal_seconds", "PT1M30.5S", "duration"),
    ("time_gyearmonth", "2012-03", "gYearMonth"),
    ("time_gyear", "2012", "gYear"),
    ("time_invalid_duration_no_t", "P1M30.5S", None),
    ("time_invalid_duration_unknown_char", "P2X6M5DT12H35M30S", None),
]:
    _add(
        _name,
        "time",
        f'<span itemscope><time itemprop="http://example.org/prop" datetime="{_value}"></time></span>',
        [l("_:b0", EX + "prop", _value, dt=(XSD + _dt) if _dt else None)],
    )
_add(
    "time_no_datetime",
    "time",
    '<span itemscope><time itemprop="http://example.org/prop">a</time></span>',
    [l("_:b0", EX + "prop", "a")],
)

# -- language (test:937-1033) -----------------------------------------------------
_add(
    "lang_itemscope_content",
    "language",
    '<span itemscope lang="en"><span itemprop="http://example.org/prop" content="a">b</span></span>',
    [l("_:b0", EX + "prop", "a", lang="en")],
)
_add(
    "xmllang_itemscope_content",
    "language",
    '<span itemscope xml:lang="en"><span itemprop="http://example.org/prop" content="a">b</span></span>',
    [l("_:b0", EX + "prop", "a", lang="en")],
)
_add(
    "lang_itemprop_content",
    "language",
    '<span itemscope><span lang="en" itemprop="http://example.org/prop" content="a">b</span></span>',
    [l("_:b0", EX + "prop", "a", lang="en")],
)
_add(
    "xmllang_itemprop_content",
    "language",
    '<span itemscope><span xml:lang="en" itemprop="http://example.org/prop" content="a">b</span></span>',
    [l("_:b0", EX + "prop", "a", lang="en")],
)
_add(
    "lang_itemscope_text",
    "language",
    '<span itemscope lang="en"><span itemprop="http://example.org/prop">b</span></span>',
    [l("_:b0", EX + "prop", "b", lang="en")],
)
_add(
    "lang_itemprop_text",
    "language",
    '<span itemscope><span lang="en" itemprop="http://example.org/prop">b</span></span>',
    [l("_:b0", EX + "prop", "b", lang="en")],
)
_add(
    # test:990 'itemscope+xml:lang with value'
    "xmllang_itemscope_text",
    "language",
    '<span itemscope xml:lang="en"><span itemprop="http://example.org/prop">b</span></span>',
    [l("_:b0", EX + "prop", "b", lang="en")],
)
_add(
    # test:1022 'itemprop+xml:lang with value'
    "xmllang_itemprop_text",
    "language",
    '<span itemscope><span xml:lang="en" itemprop="http://example.org/prop">b</span></span>',
    [l("_:b0", EX + "prop", "b", lang="en")],
)

# -- nested itemscope (test:1035-1178) ---------------------------------------------
_add(
    "nested_no_itemscope_ws_exact",
    "nested",
    '<html>\n<head></head>\n<body>\n    <span itemscope>\n'
    '        <span itemprop="http://example.org/prop1">\n'
    '            <span itemprop="http://example.org/prop2">b</span>\n'
    "        </span>\n    </span>\n</body>\n</html>",
    [
        l("_:b0", EX + "prop1", "\n            b\n        "),
        l("_:b0", EX + "prop2", "b"),
    ],
    raw=True,
)
_add(
    "nested_itemscope",
    "nested",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1" itemscope>\n'
    '            <span itemprop="http://example.org/prop2">b</span>\n        </span>\n    </span>',
    [b("_:b0", EX + "prop1", "_:b1"), l("_:b1", EX + "prop2", "b")],
)
_add(
    "nested_anonymous",
    "nested",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1">'
    '<span itemprop="http://example.org/prop2" itemscope>b</span></span>\n    </span>',
    [l("_:b0", EX + "prop1", "b"), b("_:b0", EX + "prop2", "_:b1")],
)
_add(
    "nested_content_inner",
    "nested",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1" itemscope>\n'
    '            <span itemprop="http://example.org/prop2" content="b">ignored</span>\n'
    "        </span>\n    </span>",
    [b("_:b0", EX + "prop1", "_:b1"), l("_:b1", EX + "prop2", "b")],
)
_add(
    "nested_deep",
    "nested",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1" itemscope>\n'
    '            <span itemprop="http://example.org/prop2" itemscope>\n'
    '                <span itemprop="http://example.org/prop3">b</span>\n'
    "            </span>\n        </span>\n    </span>",
    [
        b("_:b0", EX + "prop1", "_:b1"),
        b("_:b1", EX + "prop2", "_:b2"),
        l("_:b2", EX + "prop3", "b"),
    ],
)
_add(
    "nested_ignores_direct_content",
    "nested",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1" itemscope content="ignored">\n'
    '            <span itemprop="http://example.org/prop2">b</span>\n        </span>\n    </span>',
    [b("_:b0", EX + "prop1", "_:b1"), l("_:b1", EX + "prop2", "b")],
)
_add(
    "nested_multiple",
    "nested",
    '<span itemscope>\n        <span itemprop="http://example.org/prop1.1" itemscope>\n'
    '            <span itemprop="http://example.org/prop1.2">b.1</span>\n        </span>\n'
    '        <span itemprop="http://example.org/prop2.1" itemscope>\n'
    '            <span itemprop="http://example.org/prop2.2">b.2</span>\n        </span>\n    </span>',
    [
        b("_:b0", EX + "prop1.1", "_:b1"),
        l("_:b1", EX + "prop1.2", "b.1"),
        b("_:b0", EX + "prop2.1", "_:b2"),
        l("_:b2", EX + "prop2.2", "b.2"),
    ],
)
_add(
    "nested_vocab_inheritance",
    "nested",
    '<span itemscope itemtype="http://schema.org/Person">\n'
    '        <span itemprop="prop1" itemscope>\n'
    '            <span itemprop="prop2">b</span>\n        </span>\n    </span>',
    [
        i("_:b0", RDF + "type", "http://schema.org/Person"),
        b("_:b0", "http://schema.org/prop1", "_:b1"),
        l("_:b1", "http://schema.org/prop2", "b"),
    ],
)

# -- itemref (test:1180-1729) -----------------------------------------------------
_PERSON = 'itemscope itemid="http://example.org/subject" itemtype="http://example.org/Person"'
_SUBJ = EX + "subject"
_TYPE_TRIPLE = i(_SUBJ, RDF + "type", EX + "Person")

_add(
    "itemref_forward",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>\n'
    '    <span id="a">Name: <span itemprop="prop">b</span></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "b")],
)
_add(
    "itemref_backward",
    "itemref",
    '<span id="a">Name: <span itemprop="prop">b</span></span>\n'
    f'    <span {_PERSON} itemref="a"></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "b")],
)
_add(
    "itemref_no_range",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>',
    [_TYPE_TRIPLE],
)
_add(
    "itemref_no_domain",
    "itemref",
    '<span id="a">Name: <span itemprop="prop">b</span></span>',
    [],
)
_add(
    "itemref_empty",
    "itemref",
    f'<span {_PERSON} itemref=""></span>',
    [_TYPE_TRIPLE],
)
_add(
    "itemref_two_forward",
    "itemref",
    f'<span {_PERSON} itemref="a b"></span>\n'
    '    <span id="a">Name: <span itemprop="prop">a</span></span>\n'
    '    <span id="b">Name: <span itemprop="prop">b</span></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "a"), l(_SUBJ, EX + "prop", "b")],
)
_add(
    "itemref_two_backward",
    "itemref",
    '<span id="a">Name: <span itemprop="prop">a</span></span>\n'
    '    <span id="b">Name: <span itemprop="prop">b</span></span>\n'
    f'    <span {_PERSON} itemref="a b"></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "a"), l(_SUBJ, EX + "prop", "b")],
)
_add(
    "itemref_forward_backward",
    "itemref",
    '<span id="a">Name: <span itemprop="prop">a</span></span>\n'
    f'    <span {_PERSON} itemref="a b"></span>\n'
    '    <span id="b">Name: <span itemprop="prop">b</span></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "a"), l(_SUBJ, EX + "prop", "b")],
)
_add(
    "itemref_itemprop_on_id_forward",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop">Name: <span>b</span></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "Name: b")],
)
_add(
    "itemref_itemprop_on_id_backward",
    "itemref",
    '<span id="a" itemprop="prop">Name: <span>b</span></span>\n'
    f'    <span {_PERSON} itemref="a"></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "Name: b")],
)
_add(
    "itemref_multiple_itemprops_forward",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop1">Name: <span itemprop="prop2">b</span></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop1", "Name: b"), l(_SUBJ, EX + "prop2", "b")],
)
_add(
    "itemref_multiple_itemprops_backward",
    "itemref",
    '<span id="a" itemprop="prop1">Name: <span itemprop="prop2">b</span></span>\n'
    f'    <span {_PERSON} itemref="a"></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop1", "Name: b"), l(_SUBJ, EX + "prop2", "b")],
)
_add(
    "itemref_inner_tag",
    "itemref",
    f'<span {_PERSON} itemref="a">\n'
    '        <span id="a" itemprop="prop">a</span>\n    </span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "a")],
)
_add(
    "itemref_nested_ids_forward",
    "itemref",
    f'<span {_PERSON} itemref="a b"></span>\n'
    '    <span id="a" itemprop="prop1">Name: <span id="b" itemprop="prop2">b</span></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop1", "Name: b"), l(_SUBJ, EX + "prop2", "b")],
)
_add(
    "itemref_nested_ids_backward",
    "itemref",
    '<span id="a" itemprop="prop1">Name: <span id="b" itemprop="prop2">b</span></span>\n'
    f'    <span {_PERSON} itemref="a b"></span>',
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop1", "Name: b"), l(_SUBJ, EX + "prop2", "b")],
)

_P1 = 'itemscope itemid="http://example.org/subject1" itemtype="http://example.org/Person"'
_P2 = 'itemscope itemid="http://example.org/subject2" itemtype="http://example.org/Person"'
_S1, _S2 = EX + "subject1", EX + "subject2"
_T1 = i(_S1, RDF + "type", EX + "Person")
_T2 = i(_S2, RDF + "type", EX + "Person")

_add(
    "itemref_shared_forward",
    "itemref",
    f'<span {_P1} itemref="a"></span>\n    <span {_P2} itemref="a"></span>\n'
    '    <span id="a">Name: <span itemprop="prop">b</span></span>',
    [_T1, l(_S1, EX + "prop", "b"), _T2, l(_S2, EX + "prop", "b")],
)
_add(
    "itemref_shared_backward",
    "itemref",
    '<span id="a">Name: <span itemprop="prop">b</span></span>\n'
    f'    <span {_P1} itemref="a"></span>\n    <span {_P2} itemref="a"></span>',
    [_T1, l(_S1, EX + "prop", "b"), _T2, l(_S2, EX + "prop", "b")],
)
_add(
    "itemref_shared_intermediary",
    "itemref",
    f'<span {_P1} itemref="a"></span>\n'
    '    <span id="a">Name: <span itemprop="prop">b</span></span>\n'
    f'    <span {_P2} itemref="a"></span>',
    [_T1, l(_S1, EX + "prop", "b"), _T2, l(_S2, EX + "prop", "b")],
)
_add(
    "itemref_to_itemscope_forward",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop" itemscope itemtype="http://example2.org/SubPerson">'
    'Name: <span itemprop="prop2">b</span></span>',
    [
        _TYPE_TRIPLE,
        b(_SUBJ, EX + "prop", "_:b0"),
        i("_:b0", RDF + "type", "http://example2.org/SubPerson"),
        l("_:b0", "http://example2.org/prop2", "b"),
    ],
)
_add(
    "itemref_to_itemscope_backward",
    "itemref",
    '<span id="a" itemprop="prop" itemscope itemtype="http://example2.org/SubPerson">'
    'Name: <span itemprop="prop2">b</span></span>\n'
    f'    <span {_PERSON} itemref="a"></span>',
    [
        _TYPE_TRIPLE,
        b(_SUBJ, EX + "prop", "_:b0"),
        i("_:b0", RDF + "type", "http://example2.org/SubPerson"),
        l("_:b0", "http://example2.org/prop2", "b"),
    ],
)
_add(
    "itemref_deeper_itemscopes_forward",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop">Name: <span itemprop="prop2" itemscope>b</span>'
    ' <span itemprop="prop3" itemscope>c</span></span>',
    [
        _TYPE_TRIPLE,
        l(_SUBJ, EX + "prop", "Name: b c"),
        b(_SUBJ, EX + "prop2", "_:b0"),
        b(_SUBJ, EX + "prop3", "_:b1"),
    ],
)
_add(
    "itemref_deeper_itemscopes_backward",
    "itemref",
    '<span id="a" itemprop="prop">Name: <span itemprop="prop2" itemscope>b</span>'
    ' <span itemprop="prop3" itemscope>c</span></span>\n'
    f'    <span {_PERSON} itemref="a"></span>',
    [
        _TYPE_TRIPLE,
        l(_SUBJ, EX + "prop", "Name: b c"),
        b(_SUBJ, EX + "prop2", "_:b0"),
        b(_SUBJ, EX + "prop3", "_:b1"),
    ],
)
_add(
    "itemref_two_domains_same_itemscope_forward",
    "itemref",
    f'<span {_P1} itemref="a"></span>\n    <span {_P2} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop" itemscope itemtype="http://example2.org/SubPerson">'
    'Name: <span itemprop="prop2">b</span></span>',
    [
        _T1,
        b(_S1, EX + "prop", "_:b0"),
        _T2,
        b(_S2, EX + "prop", "_:b0"),
        i("_:b0", RDF + "type", "http://example2.org/SubPerson"),
        l("_:b0", "http://example2.org/prop2", "b"),
    ],
)
_add(
    "itemref_two_domains_same_itemscope_backward",
    "itemref",
    '<span id="a" itemprop="prop" itemscope itemtype="http://example2.org/SubPerson">'
    'Name: <span itemprop="prop2">b</span></span>\n'
    f'    <span {_P1} itemref="a"></span>\n    <span {_P2} itemref="a"></span>',
    [
        _T1,
        b(_S1, EX + "prop", "_:b0"),
        _T2,
        b(_S2, EX + "prop", "_:b0"),
        i("_:b0", RDF + "type", "http://example2.org/SubPerson"),
        l("_:b0", "http://example2.org/prop2", "b"),
    ],
)
_add(
    "itemref_two_domains_same_deeper_itemscopes",
    "itemref",
    f'<span {_P1} itemref="a"></span>\n    <span {_P2} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop">Name: <span itemprop="prop2" itemscope>b</span>'
    ' <span itemprop="prop3" itemscope>c</span></span>',
    [
        _T1,
        l(_S1, EX + "prop", "Name: b c"),
        b(_S1, EX + "prop2", "_:b0"),
        b(_S1, EX + "prop3", "_:b1"),
        _T2,
        l(_S2, EX + "prop", "Name: b c"),
        b(_S2, EX + "prop2", "_:b0"),
        b(_S2, EX + "prop3", "_:b1"),
    ],
)
_add(
    # test:1636 'two backward itemrefs to the same deeper itemscopes':
    # the range (with its two inner blank items) is parsed BEFORE the
    # domains; the recorded inner subjects are reused on both replays
    "itemref_two_domains_same_deeper_itemscopes_backward",
    "itemref",
    '<span id="a" itemprop="prop">Name: <span itemprop="prop2" itemscope>b</span>'
    ' <span itemprop="prop3" itemscope>c</span></span>\n'
    f'    <span {_P1} itemref="a"></span>\n    <span {_P2} itemref="a"></span>',
    [
        _T1,
        l(_S1, EX + "prop", "Name: b c"),
        b(_S1, EX + "prop2", "_:b0"),
        b(_S1, EX + "prop3", "_:b1"),
        _T2,
        l(_S2, EX + "prop", "Name: b c"),
        b(_S2, EX + "prop2", "_:b0"),
        b(_S2, EX + "prop3", "_:b1"),
    ],
)
_add(
    "itemref_id_without_domain_deeper",
    "itemref",
    '<span id="a" itemprop="prop">Name: <span itemprop="prop2" itemscope>b</span>'
    ' <span itemprop="prop3" itemscope>c</span></span>',
    [],
)
_add(
    "itemref_self_recursive",
    "itemref",
    '<html>\n<head></head>\n<body>\n'
    '    <span id="a">Name: <span itemprop="prop">b\n'
    f'    <span {_PERSON} itemref="a"></span>\n'
    "    </span></span>\n</body>\n</html>",
    [_TYPE_TRIPLE, l(_SUBJ, EX + "prop", "b\n    \n    ")],
    raw=True,
)
_add(
    "itemref_chained_forward",
    "itemref",
    f'<span {_PERSON} itemref="a"></span>\n'
    '    <span id="a" itemprop="prop" itemscope itemtype="http://example2.org/SubPerson" itemref="b">a</span>\n'
    '    <span id="b">Name: <span itemprop="prop2">b</span></span>',
    [
        _TYPE_TRIPLE,
        b(_SUBJ, EX + "prop", "_:b0"),
        i("_:b0", RDF + "type", "http://example2.org/SubPerson"),
        l("_:b0", "http://example2.org/prop2", "b"),
    ],
)
_add(
    "itemref_chained_backward",
    "itemref",
    '<span id="b">Name: <span itemprop="prop2">b</span></span>\n'
    '    <span id="a" itemprop="prop" itemscope itemtype="http://example2.org/SubPerson" itemref="b">a</span>\n'
    f'    <span {_PERSON} itemref="a"></span>',
    [
        _TYPE_TRIPLE,
        b(_SUBJ, EX + "prop", "_:b0"),
        i("_:b0", RDF + "type", "http://example2.org/SubPerson"),
        l("_:b0", "http://example2.org/prop2", "b"),
    ],
)

# -- vocabulary expansion (test:1731-1795) -----------------------------------------
_add(
    "expansion_subpropertyof",
    "expansion",
    '<span itemscope itemtype="http://example.org/Person">\n'
    '        <link itemprop="subPropertyOf" href="http://example.org/Human" />\n    </span>',
    [
        i("_:b0", RDF + "type", EX + "Person"),
        i("_:b0", EX + "subPropertyOf", EX + "Human"),
        i("_:b0", RDF + "type", EX + "Human"),
    ],
)
_add(
    "expansion_equivalentproperty",
    "expansion",
    '<span itemscope itemtype="http://example.org/Person">\n'
    '        <link itemprop="equivalentProperty" href="http://example.org/Human" />\n    </span>',
    [
        i("_:b0", RDF + "type", EX + "Person"),
        i("_:b0", EX + "equivalentProperty", EX + "Human"),
        i("_:b0", RDF + "type", EX + "Human"),
    ],
)
_add(
    "expansion_subpropertyof_reverse",
    "expansion",
    '<span itemscope itemtype="http://example.org/Person">\n'
    '        <link itemprop-reverse="subPropertyOf" href="http://example.org/Human" />\n    </span>',
    [
        i("_:b0", RDF + "type", EX + "Person"),
        b(EX + "Human", EX + "subPropertyOf", "_:b0"),
        b(EX + "Human", RDF + "type", "_:b0"),
    ],
)
_add(
    "expansion_additionaltype_registry",
    "expansion",
    '<span itemscope itemtype="http://schema.org/Person">\n'
    '        <link itemprop="additionalType" href="http://schema.org/Human" />\n    </span>',
    [
        i("_:b0", RDF + "type", "http://schema.org/Person"),
        i("_:b0", "http://schema.org/additionalType", "http://schema.org/Human"),
        i("_:b0", RDF + "type", "http://schema.org/Human"),
    ],
)

# -- W3C_SPEC group ----------------------------------------------------------
# Reconstructed from the W3C "Microdata to RDF" spec's own examples
# (https://w3c.github.io/microdata-rdf/ — the official manifest the
# reference's CI runs is NOT vendored and cannot be fetched here; see
# FIXTURES.md). Expected triples are derived from the reference's
# semantics (validated by the transcribed Jest corpus above) — these
# are regression pins for realistic spec-shaped content, not official
# conformance results.
SCHEMA = "http://schema.org/"

_add(
    "w3c_person_typed_item",
    "w3c_spec",
    # spec §2 "typed items" / schema.org Person example shape: text
    # literal + relative-img and absolute-anchor URL properties
    '<div itemscope itemtype="http://schema.org/Person">\n'
    "        <p>My name is <span itemprop=\"name\">Elizabeth</span>.</p>\n"
    '        <img itemprop="photo" src="elizabeth.jpg" alt="">\n'
    '        <a itemprop="url" href="http://example.org/liz">home page</a>\n'
    "    </div>",
    [
        i("_:b0", RDF + "type", SCHEMA + "Person"),
        l("_:b0", SCHEMA + "name", "Elizabeth"),
        i("_:b0", SCHEMA + "photo", EX + "elizabeth.jpg"),
        i("_:b0", SCHEMA + "url", EX + "liz"),
    ],
)
_add(
    "w3c_book_itemid_urn",
    "w3c_spec",
    # spec §3.1 "item identifiers": global identifier via urn itemid,
    # meta-content property
    '<div itemscope itemtype="http://schema.org/Book" itemid="urn:isbn:0-330-34032-8">\n'
    '        <span itemprop="title">The Reality Dysfunction</span>\n'
    '        <meta itemprop="author" content="Peter F. Hamilton">\n'
    "    </div>",
    [
        i("urn:isbn:0-330-34032-8", RDF + "type", SCHEMA + "Book"),
        l("urn:isbn:0-330-34032-8", SCHEMA + "title", "The Reality Dysfunction"),
        l("urn:isbn:0-330-34032-8", SCHEMA + "author", "Peter F. Hamilton"),
    ],
)
_add(
    "w3c_event_nested_place",
    "w3c_spec",
    # spec §4 nested items + time property (xsd:dateTime detection)
    '<div itemscope itemtype="http://schema.org/Event">\n'
    '        <span itemprop="name">Concert</span>\n'
    '        <time itemprop="startDate" datetime="2026-09-14T19:30:00Z">Sept 14</time>\n'
    '        <div itemprop="location" itemscope itemtype="http://schema.org/Place">\n'
    '            <span itemprop="name">The Hall</span>\n'
    "        </div>\n"
    "    </div>",
    [
        i("_:b0", RDF + "type", SCHEMA + "Event"),
        l("_:b0", SCHEMA + "name", "Concert"),
        l("_:b0", SCHEMA + "startDate", "2026-09-14T19:30:00Z",
          dt=XSD + "dateTime"),
        i("_:b1", RDF + "type", SCHEMA + "Place"),
        b("_:b0", SCHEMA + "location", "_:b1"),
        l("_:b1", SCHEMA + "name", "The Hall"),
    ],
)
_add(
    "w3c_itemref_shared_address",
    "w3c_spec",
    # spec §itemref example shape: one out-of-tree block shared by two
    # items via forward itemref
    '<div itemscope itemtype="http://schema.org/Person" itemref="w3caddr"></div>\n'
    '    <div itemscope itemtype="http://schema.org/Organization" itemref="w3caddr"></div>\n'
    '    <p id="w3caddr"><span itemprop="address">4 Space Dr.</span></p>',
    [
        i("_:b0", RDF + "type", SCHEMA + "Person"),
        i("_:b1", RDF + "type", SCHEMA + "Organization"),
        l("_:b0", SCHEMA + "address", "4 Space Dr."),
        l("_:b1", SCHEMA + "address", "4 Space Dr."),
    ],
)
_add(
    "w3c_offer_data_meta",
    "w3c_spec",
    # spec data-element value (xsd:double) + meta content
    '<div itemscope itemtype="http://schema.org/Offer">\n'
    '        <data itemprop="price" value="39.95">$39.95</data>\n'
    '        <meta itemprop="priceCurrency" content="USD">\n'
    "    </div>",
    [
        i("_:b0", RDF + "type", SCHEMA + "Offer"),
        l("_:b0", SCHEMA + "price", "39.95", dt=XSD + "double"),
        l("_:b0", SCHEMA + "priceCurrency", "USD"),
    ],
)
_add(
    "w3c_multiple_property_names",
    "w3c_spec",
    # spec §property-uri-generation: one itemprop token list -> one
    # triple per name
    '<div itemscope itemtype="http://schema.org/BlogPosting">\n'
    '        <h1 itemprop="name headline">My post</h1>\n'
    "    </div>",
    [
        i("_:b0", RDF + "type", SCHEMA + "BlogPosting"),
        l("_:b0", SCHEMA + "name", "My post"),
        l("_:b0", SCHEMA + "headline", "My post"),
    ],
)
_add(
    "w3c_lang_outside_item_dropped",
    "w3c_spec",
    # reference parity pin: lang on an ancestor BEFORE any itemscope
    # has no scope to mutate (MicrodataRdfParser.ts:206-213 runs only
    # under a live item scope) -> plain literal, not @en
    '<div lang="en"><div itemscope itemtype="http://schema.org/Person">\n'
    '        <span itemprop="name">Liz</span></div></div>',
    [
        i("_:b0", RDF + "type", SCHEMA + "Person"),
        l("_:b0", SCHEMA + "name", "Liz"),
    ],
)

FIXTURES: tuple[Fixture, ...] = tuple(_F)
