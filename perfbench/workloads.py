"""Seeded input generators for the KG-job benchmark.

Each workload writes one pages parquet table (the only input the
program sees) and, beside it, the triples the generator planted. The
expected triples are built by construction -- conformance-fixture
goldens plus the generator's own record of every item it wrote -- and
never by running the program's parser.

Expected rows use the extraction layout
``(url, subj, pred, obj, obj_kind, obj_lang, obj_datatype)`` with
blank nodes labelled ``_:bN`` in document order.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from microdata_rdf_streaming_parser_js_spark.fixtures import FIXTURES

SCHEMA = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
ARTICLE_BODY = SCHEMA + "articleBody"

EXPECTED_COLS = ["url", "subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"]
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
N_PAGE_FILES = 16
# host buckets of the job on every workload
N_BUCKETS = 8


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    wave_size: int
    salt_n: int
    # the timed run resumes a crashed job instead of building from scratch
    resume: bool


WORKLOADS = {
    w.name: w
    for w in (
        # 40-50 KB crawl pages, one Article each, unique names: one wave,
        # extraction-heavy, linking finds nothing to merge
        Workload("crawl_sparse", 1000, 8, 2, False),
        # 1-3 KB fixture pages with Zipf-named entities and a mega-host,
        # two waves of four buckets; the timed run finishes the second
        Workload("kg_dense_resume", 3000, 4, 4, True),
    )
}

# hosts of the entity pages; one of them is the mega-host
KG_HOSTS = [f"host{k}.example.net" for k in range(48)]


# -- text material -------------------------------------------------------------

_SYLLABLES = (
    "ka lo mi ne ru sa te vi do pe an el is or um ber con dra fel gan hol "
    "jor kem lin mor nor pas quel ros sut tor val wen yar zel bri cla fro"
).split()
# non-ASCII characters all encodable in windows-1252, so the same text
# can be served under a legacy charset
_ACCENTED = ("café", "naïve", "Zürich", "señor", "über", "façade", "€5", "rôle")
# (character, spelling in the HTML source)
_ENTITY_SPELLINGS = {
    "é": ("é", "&eacute;", "&#233;"),
    "ü": ("ü", "&uuml;", "&#xFC;"),
    "—": ("—", "&mdash;", "&#8212;"),
    "“": ("“", "&ldquo;"),
    "”": ("”", "&rdquo;"),
    "'": ("'", "&#39;", "&apos;"),
    '"': ('"', "&quot;"),
    "&": ("&amp;",),
    "<": ("&lt;",),
    ">": ("&gt;",),
}


def _words(rng: random.Random, n: int) -> list[str]:
    return ["".join(rng.choices(_SYLLABLES, k=rng.randint(1, 3))) for _ in range(n)]


def _to_html(text: str, rng: random.Random) -> str:
    """Escape text for an HTML text node, spelling special characters
    in a seeded mix of raw, named and numeric forms."""
    out = []
    for ch in text:
        spellings = _ENTITY_SPELLINGS.get(ch)
        out.append(rng.choice(spellings) if spellings else ch)
    return "".join(out)


class _TextPool:
    """Seeded paragraphs kept as (text, html) pairs so a page joins
    pre-escaped pieces instead of escaping 20 KB per page."""

    def __init__(self, rng: random.Random, n: int = 300):
        vocab = _words(rng, 600) + list(_ACCENTED)
        marks = [" & ", " < ", " > ", " — ", ' "', "' ", " “quoted” ", ", "]
        self.paras = []
        for _ in range(n):
            parts = []
            for _ in range(rng.randint(60, 110)):
                parts.append(rng.choice(vocab))
                if rng.random() < 0.08:
                    parts.append(rng.choice(marks).strip())
            text = " ".join(parts).capitalize() + "."
            self.paras.append((text, _to_html(text, rng)))
        self.vocab = vocab

    def body(self, rng: random.Random, n_paras: int) -> tuple[str, str]:
        picked = rng.choices(self.paras, k=n_paras)
        return "\n\n".join(p[0] for p in picked), "\n\n".join(p[1] for p in picked)


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


# -- crawl_sparse ----------------------------------------------------------------

_CSS = "\n".join(
    f".c{k} {{ margin: {k % 7}px {k % 5}px; color: #{k * 2654435761 % 0xFFFFFF:06x}; "
    f"font: {10 + k % 8}px/1.4 sans-serif; }}"
    for k in range(40)
)
_JS = "\n".join(
    f"function f{k}(a, b) {{ if (a < b && b > {k}) {{ return \"</div><span itemscope>\" + a; }} "
    f"var x{k} = [{', '.join(str(k * j % 97) for j in range(12))}]; return x{k}.length; }}"
    for k in range(45)
)


def _crawl_page(i: int, rng: random.Random, pool: _TextPool, host: int):
    url = f"http://www.site{host}.example.com/articles/{i}.html"
    path = f"/articles/{i}.html"
    legacy = rng.random() < 0.04
    title = f"{' '.join(rng.choices(pool.vocab, k=5)).title()} {i}"
    author = f"{' '.join(rng.choices(pool.vocab, k=2)).title()} Writer{i}"
    day = _EPOCH + timedelta(days=rng.randrange(700))
    date = day.strftime("%Y-%m-%d")
    text, body_html = pool.body(rng, rng.randint(36, 46))
    nav = "".join(
        f'<li><a href="/section/{w}">{w.title()} &amp; {v}</a></li>'
        for w, v in zip(rng.choices(pool.vocab, k=90), rng.choices(pool.vocab, k=90))
    )
    rows = "".join(
        "<tr>" + "".join(f"<td>{w}&nbsp;{rng.randint(0, 999)}</td>" for w in rng.choices(pool.vocab, k=4)) + "</tr>"
        for _ in range(rng.randint(50, 70))
    )
    charset = (
        '<meta charset="windows-1252">' if legacy else '<meta charset="utf-8">'
    )
    html = (
        "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n"
        f"{charset}\n<title>{_to_html(title, rng)}</title>\n"
        f'<meta name="description" content="{_to_html(title, rng)}">\n'
        '<link rel="stylesheet" href="/static/site.css">\n'
        f"<style>\n{_CSS}\n</style>\n<script>\n{_JS}\n</script>\n</head>\n<body>\n"
        f"<!-- cache {i}: <div itemscope itemtype=\"http://schema.org/Thing\"> -->\n"
        f'<nav class="top"><ul>{nav}</ul></nav>\n'
        '<div itemscope itemtype="http://schema.org/Article">\n'
        f'<h1 itemprop="name">{_to_html(title, rng)}</h1>\n'
        '<div class="byline">By <span itemprop="author" itemscope '
        'itemtype="http://schema.org/Person">'
        f'<span itemprop="name">{_to_html(author, rng)}</span></span> on '
        f'<time itemprop="datePublished" datetime="{date}">{day:%B %d}</time></div>\n'
        f'<link itemprop="url" href="{path}">\n'
        '<meta itemprop="inLanguage" content="en">\n'
        f'<div itemprop="articleBody">{body_html}</div>\n</div>\n'
        f'<table class="stats">{rows}</table>\n'
        f'<footer><a href="/about">About</a> <a href="/privacy">Privacy</a></footer>\n'
        "</body>\n</html>\n"
    )
    expected = [
        ("_:b0", RDF_TYPE, SCHEMA + "Article", "iri", None, None),
        ("_:b0", SCHEMA + "name", title, "literal", None, None),
        ("_:b0", SCHEMA + "author", "_:b1", "blank", None, None),
        ("_:b1", RDF_TYPE, SCHEMA + "Person", "iri", None, None),
        ("_:b1", SCHEMA + "name", author, "literal", None, None),
        ("_:b0", SCHEMA + "datePublished", date, "literal", None, XSD_DATE),
        ("_:b0", SCHEMA + "url", f"http://www.site{host}.example.com{path}", "iri", None, None),
        ("_:b0", SCHEMA + "inLanguage", "en", "literal", None, None),
        ("_:b0", ARTICLE_BODY, text, "literal", None, None),
    ]
    encoded = html.encode("cp1252" if legacy else "utf-8")
    return url, encoded, None, expected


# -- kg_dense / resume_waves -----------------------------------------------------

_ENTITY_TYPES = ("Organization", "Person", "Place")


class _EntityPool:
    """A small pool of entity names; pages draw them Zipf-style so a
    few names recur across many hosts (co-reference for linking)."""

    def __init__(self, rng: random.Random, n: int = 48):
        self.names = []
        seen = set()
        while len(self.names) < n:
            name = " ".join(_words(rng, 2)).title()
            if name.lower() not in seen:
                seen.add(name.lower())
                self.names.append(name)
        self.weights = _zipf_weights(n)


def _entity_page(i, rng, pool: _TextPool, entities: _EntityPool, host: int):
    fixture = FIXTURES[rng.randrange(len(FIXTURES))]
    url = f"http://{KG_HOSTS[host]}/{fixture.name}/{i}.html"
    article = f"{url}#main"
    expected = [tuple(t) for t in fixture.expected]
    expected.append((article, RDF_TYPE, SCHEMA + "Article", "iri", None, None))
    text, body_html = pool.body(rng, rng.randint(1, 3))
    parts = [f'<div itemscope itemtype="http://schema.org/Article" itemid="{article}">']
    picks = rng.choices(range(len(entities.names)), weights=entities.weights, k=rng.randint(1, 3))
    keyword = rng.choice(pool.vocab)
    # the same keyword twice: a true duplicate triple for dedup
    parts.append(f'<meta itemprop="keywords" content="{keyword}"><meta itemprop="keywords" content="{keyword}">')
    expected += [(article, SCHEMA + "keywords", keyword, "literal", None, None)] * 2
    entity_html = []
    for k in picks:
        name = entities.names[k]
        slug = name.lower().replace(" ", "-")
        eid = f"http://{KG_HOSTS[host]}/entity/{slug}"
        etype = _ENTITY_TYPES[k % len(_ENTITY_TYPES)]
        parts.append(f'<link itemprop="about" href="{eid}">')
        expected.append((article, SCHEMA + "about", eid, "iri", None, None))
        entity_html.append(
            f'<div itemscope itemtype="http://schema.org/{etype}" itemid="{eid}">'
            f'<span itemprop="name">{name}</span><meta itemprop="name" content="{name}">'
            f'<meta itemprop="identifier" content="{slug}"></div>'
        )
        expected += [
            (eid, RDF_TYPE, SCHEMA + etype, "iri", None, None),
            (eid, SCHEMA + "name", name, "literal", None, None),
            (eid, SCHEMA + "name", name, "literal", None, None),
            (eid, SCHEMA + "identifier", slug, "literal", None, None),
        ]
    parts.append(f'<div itemprop="articleBody">{body_html}</div></div>')
    expected.append((article, ARTICLE_BODY, text, "literal", None, None))
    # planted items carry absolute itemids, so they take no blank labels
    # and leave the fixture's _:bN numbering untouched
    planted = "\n".join(parts + entity_html) + "\n"
    html = fixture.html
    at = html.find("<body>")
    if at < 0:
        html = planted + html
    else:
        at += len("<body>")
        html = html[:at] + "\n" + planted + html[at:]
    return url, html.encode("utf-8"), fixture.base_iri, expected


# -- writer ----------------------------------------------------------------------

def generate(workload: Workload, seed: int, out_dir: str, mega_host: int = 0) -> dict:
    """Write ``out_dir/pages`` and ``out_dir/expected.parquet`` for one
    workload and seed; returns the pages kept in memory for sampling.
    ``mega_host`` indexes ``KG_HOSTS``."""
    rng = random.Random(f"{workload.name}:{seed}")
    pool = _TextPool(rng)
    if workload.name == "crawl_sparse":
        host_w = _zipf_weights(400, 0.8)

        def page(i):
            host = rng.choices(range(400), weights=host_w)[0]
            return _crawl_page(i, rng, pool, host)
    else:
        entities = _EntityPool(rng)
        n_hosts = len(KG_HOSTS)
        # the mega-host takes about a quarter of the pages
        host_w = _zipf_weights(n_hosts)
        host_w[0], host_w[mega_host] = host_w[mega_host], sum(host_w) / 3

        def page(i):
            host = rng.choices(range(n_hosts), weights=host_w)[0]
            return _entity_page(i, rng, pool, entities, host)

    urls, htmls, bases, stamps = [], [], [], []
    exp = {c: [] for c in EXPECTED_COLS}
    for i in range(workload.n_pages):
        url, html, base, expected = page(i)
        urls.append(url)
        htmls.append(html)
        bases.append(base)
        stamps.append(_EPOCH + timedelta(seconds=i))
        for t in expected:
            exp["url"].append(url)
            for c, v in zip(EXPECTED_COLS[1:], t):
                exp[c].append(v)

    cols = {
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(stamps, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.nulls(len(urls), pa.string()),
        "lang": pa.array(["en"] * len(urls), pa.string()),
    }
    if any(b is not None for b in bases):
        cols["base_iri"] = pa.array(bases, pa.string())
    table = pa.table(cols)
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    step = -(-len(urls) // N_PAGE_FILES)
    for f, start in enumerate(range(0, len(urls), step)):
        pq.write_table(
            table.slice(start, step),
            os.path.join(pages_dir, f"part-{f:05d}.parquet"),
            row_group_size=256,
        )
    pq.write_table(pa.table(exp), os.path.join(out_dir, "expected.parquet"))
    return {"htmls": htmls, "urls": urls, "bases": bases}
