"""D2 — distributed triple extraction (pages -> triples DataFrame).

The whole per-page Microdata algorithm (reference operators P1-P14,
SURVEY.md §2.2) runs inside ONE Arrow-vectorized ``mapInPandas`` UDF:
the HTML event stream never crosses a Spark boundary. Spark sees a
declarative plan — scan(url, html) -> mapInPandas -> triples — so
Catalyst prunes the other page columns out of the parquet/Iceberg scan.

Scale notes (100 TB corpus):
- ``mapInPandas`` (iterator-of-batches) is used instead of a scalar
  pandas_udf so each Python worker compiles regexes/parser tables once
  per task, not per batch, and so output rows (tens per page) stream
  out batch-by-batch without materializing a whole partition.
- Extraction is embarrassingly parallel: no shuffle is introduced
  here. Upstream repartition by hash(url) (sources/pages.read_pages)
  evens out crawl-order skew in page sizes.
- Parse failures never kill a task: errors land in an ``error``
  column (null on success) so one hostile page in a 100 TB crawl
  costs one row, not a stage retry.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from ..functions.charset import decode_html, sniff_charset
from ..functions.microdata import MicrodataExtractor, parse_html

if TYPE_CHECKING:
    import pandas as pd
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


def _extract_page(base_iri: str, html, vocab_registry, xml_mode: bool,
                  max_html_bytes: int = MAX_HTML_BYTES):
    """Parse one page with the given base IRI; returns triples."""
    if html is None:
        raise ValueError("null html")
    if isinstance(html, (bytes, bytearray, memoryview)):
        if len(html) > max_html_bytes:
            raise ValueError(f"html too large: {len(html)} bytes")
        # charset sniff (BOM -> meta prescan -> UTF-8 fallback): the
        # reference consumes already-decoded strings, so the decode
        # contract is OURS (functions/charset.py; SURVEY §2.1 S1)
        html = decode_html(bytes(html))
    elif len(html) > max_html_bytes:
        raise ValueError(f"html too large: {len(html)} chars")
    return parse_html(html, base_iri or "", vocab_registry, xml_mode)


def make_extract_fn(vocab_registry: dict | None = None, xml_mode: bool = False):
    """Build the mapInPandas function (registry captured in the closure;
    shipped once per executor like a broadcast variable).

    If the incoming batch has a ``base_iri`` column it overrides the
    parser base (mirrors the reference's ``baseIRI`` option being
    independent of stream identity); otherwise ``url`` is the base.
    """
    import pandas as pd

    def extract_fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {c: [] for c in TRIPLE_COLS}
            bases = pdf["base_iri"] if "base_iri" in pdf.columns else pdf["url"]
            for url, base, html in zip(pdf["url"], bases, pdf["html"]):
                try:
                    triples = _extract_page(base, html, vocab_registry, xml_mode)
                except Exception as exc:  # noqa: BLE001 - quarantine bad pages
                    out["url"].append(url)
                    for c in TRIPLE_COLS[1:-1]:
                        out[c].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
                    continue
                for t in triples:
                    out["url"].append(url)
                    out["subj"].append(t.subj)
                    out["pred"].append(t.pred)
                    out["obj"].append(t.obj)
                    out["obj_kind"].append(t.obj_kind)
                    out["obj_lang"].append(t.obj_lang)
                    out["obj_datatype"].append(t.obj_datatype)
                    out["error"].append(None)
            yield pd.DataFrame(out, columns=TRIPLE_COLS)

    return extract_fn


def extract_triples(
    pages: "DataFrame",
    vocab_registry: dict | None = None,
    xml_mode: bool = False,
    keep_errors: bool = False,
) -> "DataFrame":
    """pages(url, html, ...) -> triples DataFrame.

    Only ``url`` and ``html`` are selected, so Catalyst pushes column
    pruning into the source scan regardless of the pages schema.
    """
    cols = ["url", "html"] + (
        ["base_iri"] if "base_iri" in pages.columns else []
    )
    raw = pages.select(*cols).mapInPandas(
        make_extract_fn(vocab_registry, xml_mode), schema=TRIPLES_SCHEMA
    )
    if keep_errors:
        return raw
    return raw.filter(raw.error.isNull()).drop("error")


def extract_text_fn():
    """mapInPandas fn: pages(url, html) -> (url, text) using the same
    tokenizer — backs the byte-identity invariant check at scale."""
    import pandas as pd

    from ..functions.microdata import extract_text

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            texts = []
            for html in pdf["html"]:
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = decode_html(bytes(html))
                texts.append(extract_text(html))
            yield pd.DataFrame({"url": pdf["url"], "text": texts})

    return fn


TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


CHARSET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("charset", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def page_charsets(pages: "DataFrame") -> "DataFrame":
    """(url, charset, text): the detected charset (BOM -> meta prescan
    -> UTF-8 fallback, functions/charset.py) plus the extracted text of
    the page decoded under it — the observability query for the decode
    contract. Same execution shape as extraction: column-pruned scan,
    one Arrow ``mapInPandas``, no shuffle."""
    import pandas as pd

    from ..functions.microdata import extract_text

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            charsets, texts = [], []
            for html in pdf["html"]:
                if html is None:
                    charsets.append(None)
                    texts.append(None)
                    continue
                raw = bytes(html) if not isinstance(html, str) else None
                if raw is None:
                    charsets.append("utf-8")
                    texts.append(extract_text(html))
                else:
                    charsets.append(sniff_charset(raw))
                    texts.append(extract_text(decode_html(raw)))
            yield pd.DataFrame(
                {"url": pdf["url"], "charset": charsets, "text": texts}
            )

    return pages.select("url", "html").mapInPandas(fn, schema=CHARSET_SCHEMA)


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


def compute_page_metrics(
    url: str, html, vocab_registry: dict | None = None
) -> tuple:
    """Pure per-page metrics kernel (no Spark): one tokenizer pass with
    the listener tap. Returns the METRICS_SCHEMA tuple; shared by the
    distributed UDF below and the driver oracle's golden VALUES."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = decode_html(bytes(html))
    try:
        extractor = MicrodataExtractor(url or "", vocab_registry)
        tap = _MetricsTap(extractor)
        from ..functions.fast_html import FastHtmlTokenizer

        tokenizer = FastHtmlTokenizer(tap)
        tokenizer.feed(html)
        tokenizer.end()
        items = {t.subj for t in extractor.triples}
        return (url, tap.n_tags, tap.n_text_events, tap.n_text_chars,
                len(extractor.triples), len(items), None)
    except Exception as exc:  # noqa: BLE001
        return (url, None, None, None, None, None,
                f"{type(exc).__name__}: {exc}")


def page_metrics(pages: "DataFrame", vocab_registry: dict | None = None) -> "DataFrame":
    """Per-page extraction metrics (lineage feed): tag/text counts,
    triples emitted, distinct items. Same single-pass tokenizer run,
    with the listener tap counting events (S5 in SURVEY §2.1)."""
    import pandas as pd

    cols = [f.name for f in METRICS_SCHEMA.fields]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                compute_page_metrics(url, html, vocab_registry)
                for url, html in zip(pdf["url"], pdf["html"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(fn, schema=METRICS_SCHEMA)


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
    import pandas as pd

    from ..functions.boilerplate import extract_main_content

    cols = [f.name for f in MAIN_CONTENT_SCHEMA.fields]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                extract_main_content(
                    url, html, min_block_chars, max_link_density_u
                )
                for url, html in zip(pdf["url"], pdf["html"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(
        fn, schema=MAIN_CONTENT_SCHEMA
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

    if isinstance(html, (bytes, bytearray, memoryview)):
        html = decode_html(bytes(html))
    tap = _MetaTap()
    from ..functions.fast_html import FastHtmlTokenizer

    tokenizer = FastHtmlTokenizer(tap)
    tokenizer.feed(html)
    tokenizer.end()
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
    import pandas as pd

    cols = [f.name for f in PAGE_META_SCHEMA.fields]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                compute_page_meta(url, html)
                for url, html in zip(pdf["url"], pdf["html"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return pages.select("url", "html").mapInPandas(fn, schema=PAGE_META_SCHEMA)
