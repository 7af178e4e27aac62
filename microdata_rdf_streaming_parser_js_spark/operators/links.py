"""Hyperlink (web-graph) extraction from raw HTML pages.

The companion to Microdata extraction for web-graph analytics: pull
``href`` targets out of the page bytes with codegen'd
``regexp_extract_all`` (no tokenizer pass, no Python) covering all
three HTML attribute quoting styles, resolve them against the source
page URL per RFC 3986 (:func:`resolve_links` — most links on real
pages are relative), reduce to a host-level edge list, and feed the
graph operators (PageRank, components, degrees). At crawl scale the
extraction is a pure scan-side explode and the resolution an
Arrow-batched kernel on the exploded rows — the only shuffles are
whatever the downstream graph algorithm needs.

Host parsing is a fixed regex rather than ``parse_url`` so the
DuckDB oracles and the pure-Python corpus builders reproduce it
byte-for-byte (engine URL parsers disagree on edge cases; a regex is
one shared contract).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame

# One pattern per HTML attribute quoting style; the unquoted class is
# HTML5's (no whitespace, quotes, '=', '<', '>', backtick). A quoted
# value never matches the unquoted pattern (its first char is the
# quote). These strings are the shared extraction contract: the
# pure-Python oracle replay in plans/queries.py runs the same three
# patterns through ``re`` — change both sides together.
HREF_PATTERNS = (
    r'(?i)href\s*=\s*"([^"]*)"',
    r"(?i)href\s*=\s*'([^']*)'",
    r"""(?i)href\s*=\s*([^\s"'=<>`]+)""",
)
HREF_PATTERN = HREF_PATTERNS[0]  # double-quoted only (legacy alias)
HOST_PATTERN = r"^https?://([^/]+)"


def host_of(col: "Column") -> "Column":
    """Host part of an absolute http(s) URL ('' when not matched)."""
    return F.regexp_extract(col, HOST_PATTERN, 1)


def extract_links(
    pages: "DataFrame", url_col: str = "url", html_col: str = "html"
) -> "DataFrame":
    """(src_url, dst_url) — one row per href occurrence across
    double-quoted, single-quoted, AND unquoted attribute values
    (parallel links preserved; graph ops decide their own multiplicity
    rules). dst_url is the RAW href — relative references and all —
    chain :func:`resolve_links` to make them absolute."""
    hrefs = F.concat(
        *[
            F.regexp_extract_all(F.col(html_col), F.lit(p), 1)
            for p in HREF_PATTERNS
        ]
    )
    return pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(hrefs).alias("dst_url"),
    )


def resolve_links(
    links: "DataFrame", src_col: str = "src_url", dst_col: str = "dst_url"
) -> "DataFrame":
    """Resolve raw href targets against their source page URL per
    RFC 3986 §5.2 (functions/iri.py — the same resolver the Microdata
    core uses, reference parity /root/reference/lib/Util.ts:96-105):
    relative paths, rooted paths, protocol-relative references, dot
    segments, fragment-only and query-only hrefs all become absolute;
    rows whose href cannot resolve (unparseable base) are dropped.

    Resolution is genuinely imperative (the dot-segment removal loop) —
    the documented threshold for leaving codegen — so it runs as an
    Arrow-batched kernel, scan-side on the exploded link rows, no
    shuffle. Absolute hrefs pass through the same kernel (they also get
    dot-segment normalization, keeping one canonical contract for both
    forms).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _resolve(dst, src):  # type: ignore[no-untyped-def]
        import pandas as pd

        from ..functions.iri import resolve_iri

        out = []
        for ref, base in zip(dst, src):
            try:
                out.append(resolve_iri(ref, base))
            except Exception:  # noqa: BLE001 — unresolvable href: drop row
                out.append(None)
        return pd.Series(out, dtype="object")

    return links.withColumn(dst_col, _resolve(F.col(dst_col), F.col(src_col))).where(
        F.col(dst_col).isNotNull()
    )


class _AnchorTap:
    """Tokenizer sink collecting (href, anchor_text) per ``<a href>``.

    Contract (documented, shared with the oracle replay):
    - only ``<a>`` tags carrying an ``href`` attribute open an anchor;
    - anchor text is every text event until the anchor's own close tag
      (nested elements' text included), whitespace-collapsed + trimmed;
    - a new ``<a href>`` while one is open finalizes the current anchor
      first (HTML5 forbids nested anchors; browsers imply the close);
    - a still-open anchor at end-of-document is finalized.

    Depth bookkeeping uses the adapter's balanced open/close events
    (the adapters synthesize closes for void/implied-close tags), so
    this tap never re-implements HTML tree repair.
    """

    __slots__ = ("anchors", "_depth", "_href", "_buf", "_anchor_depth")

    def __init__(self) -> None:
        self.anchors: list[tuple[str, str]] = []
        self._depth = 0
        self._href: str | None = None
        self._buf: list[str] = []
        self._anchor_depth = -1

    def _finalize(self) -> None:
        text = " ".join("".join(self._buf).split())
        self.anchors.append((self._href, text))  # type: ignore[arg-type]
        self._href, self._buf, self._anchor_depth = None, [], -1

    def on_tag_open(self, name: str, attributes: dict) -> None:
        if name == "a" and "href" in attributes:
            if self._href is not None:
                self._finalize()
            self._href = attributes["href"]
            self._anchor_depth = self._depth
        self._depth += 1

    def on_text(self, data: str) -> None:
        if self._href is not None:
            self._buf.append(data)

    def on_tag_close(self) -> None:
        self._depth -= 1
        if self._href is not None and self._depth <= self._anchor_depth:
            self._finalize()

    def on_end(self) -> None:
        if self._href is not None:
            self._finalize()


def compute_anchors(html) -> list[tuple[str, str]]:
    """Pure per-page anchor kernel (no Spark): one fast-tokenizer pass
    with the :class:`_AnchorTap` listener — shared verbatim by the
    DuckDB oracle replay in plans/queries.py, so both engines run the
    identical extraction."""
    from ..functions.microdata import feed_document

    tap = _AnchorTap()
    feed_document(html, tap)
    return tap.anchors


def _page_anchors(url: str, html) -> list[tuple]:
    try:
        pairs = compute_anchors(html)
    except Exception:  # noqa: BLE001 — malformed page: no anchors
        return []
    return [(url, href, text) for href, text in pairs]


def extract_anchors(
    pages: "DataFrame", url_col: str = "url", html_col: str = "html"
) -> "DataFrame":
    """(src_url, dst_url, anchor_text) — one row per ``<a href>`` in
    document order; dst_url is the RAW href (chain :func:`resolve_links`
    for absolute URLs). Unlike :func:`extract_links` (regex, href
    attributes of ANY tag) this is a real tokenizer pass, so it sees
    entity-decoded attribute values and the anchor's rendered text —
    the (link, link-text) training-data surface. Arrow-batched
    mapInPandas on the pruned (url, html) scan; zero shuffles."""
    from pyspark.sql import types as T

    from .rows import map_rows

    schema = T.StructType(
        [
            T.StructField("src_url", T.StringType(), False),
            T.StructField("dst_url", T.StringType(), True),
            T.StructField("anchor_text", T.StringType(), True),
        ]
    )
    return map_rows(pages, [url_col, html_col], _page_anchors, schema)


_TRACKING_PARAM = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=|$)"


def normalize_url(col: "Column") -> "Column":
    """Canonical URL form for URL-level dedup — pure codegen'd
    expressions (no UDF), byte-mirrored by the DuckDB oracle:

    - scheme and host lowercased (path/query case preserved);
    - default ports stripped (http:80, https:443);
    - fragment dropped;
    - tracking params removed (utm_*, fbclid, gclid), remaining query
      params sorted byte-wise, '?' dropped when none survive;
    - empty path becomes '/'.

    Deliberately NOT done (semantics-changing): trailing-slash or
    duplicate-slash collapsing, percent-decoding, IDN folding.
    """
    url = F.trim(col)
    # fragment stripped FIRST so a '?' living inside the fragment
    # (http://h/p#sec?a=b) can never resurrect as a query string
    no_frag = F.regexp_extract(url, r"^([^#]*)", 1)
    scheme = F.lower(F.regexp_extract(no_frag, r"^([^:/?#]+)://", 1))
    auth = F.lower(F.regexp_extract(no_frag, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.when(
        (scheme == "http") & auth.endswith(":80"),
        F.regexp_replace(auth, r":80$", ""),
    ).when(
        (scheme == "https") & auth.endswith(":443"),
        F.regexp_replace(auth, r":443$", ""),
    ).otherwise(auth)
    path = F.regexp_extract(no_frag, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    raw_q = F.regexp_extract(no_frag, r"\?(.*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(raw_q, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM),
        )
    )
    query = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.concat_ws("&", kept))
    ).otherwise(F.lit(""))
    return F.when(
        scheme == "", url  # not an absolute URL: pass through untouched
    ).otherwise(F.concat(scheme, F.lit("://"), host, path, query))


def host_edges(links: "DataFrame") -> "DataFrame":
    """Host-level (subj, obj) edges from page-level links; rows whose
    either side has no parseable host are dropped."""
    out = links.select(
        host_of(F.col("src_url")).alias("subj"),
        host_of(F.col("dst_url")).alias("obj"),
    )
    return out.where((F.col("subj") != "") & (F.col("obj") != ""))


_SITEMAP_DIRECTIVE = r"(?im)^[ \t]*sitemap:[ \t]*(\S+)"


def robots_sitemap_urls(
    robots: "DataFrame", host_col: str = "host", txt_col: str = "robots_txt"
) -> "DataFrame":
    """(host, sitemap_url) from ``Sitemap:`` directives in robots.txt
    bodies (RFC 9309 §2.3) — the line that connects crawl governance to
    frontier seeding: these URLs join the fetched-sitemap corpus and
    :func:`extract_sitemap_urls` walks the ``<loc>`` tree from there.
    Directives are group-independent (they apply file-wide, any case,
    any position), which is why this is a whole-body regexp and not
    part of the per-agent rule parser. Scan-side codegen'd explode,
    zero shuffles."""
    return robots.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.regexp_extract_all(
                F.col(txt_col), F.lit(_SITEMAP_DIRECTIVE), 1
            )
        ).alias("sitemap_url"),
    )


_LOC_PATTERN = r"<loc>\s*([^<]+?)\s*</loc>"


def extract_sitemap_urls(
    sitemaps: "DataFrame",
    sitemap_col: str = "sitemap_url",
    xml_col: str = "xml",
) -> "DataFrame":
    """(sitemap_url, url) from sitemap XML bodies — the crawl-frontier
    seeding step. ``<loc>`` extraction is a codegen'd
    ``regexp_extract_all`` (whitespace-tolerant, entity-free locs per
    the sitemaps.org spec); the same rows come back for a urlset and
    for a sitemapindex (whose locs are child sitemap URLs — the caller
    recurses by joining them back against the fetched corpus). Scan-
    side explode, zero shuffles.
    """
    return sitemaps.select(
        F.col(sitemap_col).alias("sitemap_url"),
        F.explode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_LOC_PATTERN), 1)
        ).alias("url"),
    )
