"""D2 — distributed triple extraction (pages -> triples DataFrame).

The whole per-page Microdata algorithm (reference operators P1-P14,
SURVEY.md §2.2) runs inside ONE per-page kernel that crosses Arrow
through ``operators/rows.map_rows`` (scale notes there): the HTML event
stream never crosses a Spark boundary. Spark sees a declarative plan —
scan(url, html) -> mapInPandas -> triples — so Catalyst prunes the
other page columns out of the parquet/Iceberg scan.

Parse failures never kill a task: errors land in an ``error`` column
(null on success) so one hostile page in a 100 TB crawl costs one row,
not a stage retry.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import types as T

from ..functions.charset import decode_html, sniff_charset
from ..functions.microdata import (
    MicrodataExtractor,
    extract_text,
    feed_document,
    parse_html,
)
from .rows import map_rows, rows_fn

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("obj_kind", T.StringType(), True),  # iri|blank|literal
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("obj_datatype", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]


# crawler hygiene: a 100 TB crawl contains pathological pages; cap the
# bytes one page may cost before it ever reaches the parser.
MAX_HTML_BYTES = 16 * 1024 * 1024


def _extract_page(url: str, html, *base_iri) -> list[tuple]:
    """One page's TRIPLES_SCHEMA rows, or one quarantine row carrying
    the error. The parser base is the ``base_iri`` column when the pages
    have one (the reference's ``baseIRI`` option is independent of
    stream identity; a null base parses with base ``""``), else ``url``."""
    try:
        if html is None:
            raise ValueError("null html")
        if len(html) > MAX_HTML_BYTES:
            unit = "chars" if isinstance(html, str) else "bytes"
            raise ValueError(f"html too large: {len(html)} {unit}")
        triples = parse_html(html, (base_iri[0] if base_iri else url) or "")
    except Exception as exc:  # noqa: BLE001 - quarantine bad pages
        return [(url, None, None, None, None, None, None,
                 f"{type(exc).__name__}: {exc}")]
    return [(url, *t, None) for t in triples]


def extract_triples(pages: "DataFrame", keep_errors: bool = False) -> "DataFrame":
    """pages(url, html[, base_iri], ...) -> triples DataFrame.

    Only ``url``, ``html`` and ``base_iri`` are selected, so Catalyst
    pushes column pruning into the source scan regardless of the pages
    schema.
    """
    cols = ["url", "html"] + (
        ["base_iri"] if "base_iri" in pages.columns else []
    )
    raw = map_rows(pages, cols, _extract_page, TRIPLES_SCHEMA)
    if keep_errors:
        return raw
    return raw.filter(raw.error.isNull()).drop("error")


TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def page_text(url: str, html) -> list[tuple]:
    """(url, text) kernel over the same tokenizer as extraction — backs
    the byte-identity invariant check at scale."""
    return [(url, extract_text(html))]


def extract_text_fn():
    """mapInPandas fn: pages(url, html) -> (url, text) via :func:`page_text`."""
    return rows_fn(page_text, ["url", "html"], TEXT_SCHEMA.fieldNames())


CHARSET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("charset", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def _page_charset(url: str, html) -> list[tuple]:
    if html is None:
        return [(url, None, None)]
    charset = "utf-8" if isinstance(html, str) else sniff_charset(bytes(html))
    return [(url, charset, extract_text(html))]


def page_charsets(pages: "DataFrame") -> "DataFrame":
    """(url, charset, text): the detected charset (BOM -> meta prescan
    -> UTF-8 fallback, functions/charset.py) plus the extracted text of
    the page decoded under it — the observability query for the decode
    contract. Same execution shape as extraction: column-pruned scan,
    one Arrow ``mapInPandas``, no shuffle."""
    return map_rows(pages, ["url", "html"], _page_charset, CHARSET_SCHEMA)


METRICS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_tags", T.LongType(), True),
        T.StructField("n_text_events", T.LongType(), True),
        T.StructField("n_text_chars", T.LongType(), True),
        T.StructField("n_triples", T.LongType(), True),
        T.StructField("n_items", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


class _MetricsTap:
    """Parse-event tap (the reference's IHtmlParseListener analogue,
    lib/IHtmlParseListener.ts) counting tags/text alongside extraction."""

    __slots__ = ("inner", "n_tags", "n_text_events", "n_text_chars")

    def __init__(self, inner):
        self.inner = inner
        self.n_tags = 0
        self.n_text_events = 0
        self.n_text_chars = 0

    def on_tag_open(self, name, attributes):
        self.n_tags += 1
        self.inner.on_tag_open(name, attributes)

    def on_text(self, data):
        self.n_text_events += 1
        self.n_text_chars += len(data)
        self.inner.on_text(data)

    def on_tag_close(self):
        self.inner.on_tag_close()

    def on_end(self):
        self.inner.on_end()


def compute_page_metrics(url: str, html) -> tuple:
    """Pure per-page metrics kernel (no Spark): one tokenizer pass with
    the listener tap. Returns the METRICS_SCHEMA tuple; shared by the
    distributed UDF below and the driver oracle's golden VALUES."""
    html = decode_html(html)  # decode errors raise; parse errors quarantine
    try:
        extractor = MicrodataExtractor(url or "")
        tap = _MetricsTap(extractor)
        feed_document(html, tap)
        items = {t.subj for t in extractor.triples}
        return (url, tap.n_tags, tap.n_text_events, tap.n_text_chars,
                len(extractor.triples), len(items), None)
    except Exception as exc:  # noqa: BLE001
        return (url, None, None, None, None, None,
                f"{type(exc).__name__}: {exc}")


def page_metrics(pages: "DataFrame") -> "DataFrame":
    """Per-page extraction metrics (lineage feed): tag/text counts,
    triples emitted, distinct items. Same single-pass tokenizer run,
    with the listener tap counting events (S5 in SURVEY §2.1)."""
    return map_rows(
        pages, ["url", "html"],
        lambda url, html: [compute_page_metrics(url, html)], METRICS_SCHEMA,
    )


MAIN_CONTENT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("main_text", T.StringType(), True),
        T.StructField("n_blocks", T.LongType(), True),
        T.StructField("n_content_blocks", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def main_content(
    pages: "DataFrame",
    min_block_chars: int = 25,
    max_link_density_u: int = 330_000,
) -> "DataFrame":
    """Boilerplate removal (functions/boilerplate.extract_main_content):
    per-page main text after dropping short / link-dense blocks — the
    nav-footer-linkfarm filter that runs before any text-quality or
    dedup stage of a crawl pipeline.

    Same execution shape as extraction: one Arrow ``mapInPandas`` over
    (url, html), column-pruned scan, embarrassingly parallel, parse
    failures quarantined to the ``error`` column. The block classifier
    shares the extractor's tokenizer, so content/boilerplate decisions
    see exactly the structure the KG extraction saw.
    """
    from ..functions.boilerplate import extract_main_content

    return map_rows(
        pages, ["url", "html"],
        lambda url, html: [
            extract_main_content(url, html, min_block_chars, max_link_density_u)
        ],
        MAIN_CONTENT_SCHEMA,
    )


PAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("og_title", T.StringType(), True),
        T.StructField("canonical", T.StringType(), True),
    ]
)


class _MetaTap:
    """Standalone parse-event listener harvesting the page-card
    metadata surface: first <title> text, first
    <meta name=description>, first <meta property=og:title>, first
    <link rel=canonical href> — the same single tokenizer pass the
    extraction uses (reference analogue: IHtmlParseListener,
    lib/IHtmlParseListener.ts), no second parse of the page."""

    __slots__ = ("stack", "title_parts", "title_done", "description",
                 "og_title", "canonical_href")

    def __init__(self):
        self.stack = []
        self.title_parts = []
        self.title_done = False
        self.description = None
        self.og_title = None
        self.canonical_href = None

    def on_tag_open(self, name, attributes):
        self.stack.append(name)
        if name == "meta":
            if (
                self.description is None
                and str(attributes.get("name", "")).lower() == "description"
                and "content" in attributes
            ):
                self.description = attributes["content"]
            if (
                self.og_title is None
                and str(attributes.get("property", "")).lower() == "og:title"
                and "content" in attributes
            ):
                self.og_title = attributes["content"]
        elif name == "link":
            if (
                self.canonical_href is None
                and str(attributes.get("rel", "")).lower() == "canonical"
                and "href" in attributes
            ):
                self.canonical_href = attributes["href"]

    def on_text(self, data):
        if not self.title_done and "title" in self.stack:
            self.title_parts.append(data)

    def on_tag_close(self):
        if self.stack:
            name = self.stack.pop()
            if name == "title" and self.title_parts:
                self.title_done = True  # first <title> wins

    def on_end(self):
        pass


def compute_page_meta(url: str, html) -> tuple:
    """Pure per-page metadata kernel (no Spark): (url, title,
    description, og_title, canonical) — title whitespace-collapsed,
    canonical RFC 3986-resolved against the page URL (None when
    unresolvable). Shared by the distributed UDF and the driver
    oracle's golden VALUES."""
    import re as _re

    from ..functions.iri import resolve_iri

    tap = _MetaTap()
    feed_document(html, tap)
    title = _re.sub(r"\s+", " ", "".join(tap.title_parts)).strip() or None
    canonical = None
    if tap.canonical_href is not None:
        try:
            canonical = resolve_iri(tap.canonical_href, url)
        except Exception:  # noqa: BLE001
            canonical = None
    return (url, title, tap.description, tap.og_title, canonical)


def page_meta(pages: "DataFrame") -> "DataFrame":
    """Distributed page-card metadata extraction: one tokenizer pass
    per page inside an Arrow mapInPandas batch (never a second parse,
    never a per-row Python UDF)."""
    return map_rows(
        pages, ["url", "html"],
        lambda url, html: [compute_page_meta(url, html)], PAGE_META_SCHEMA,
    )
