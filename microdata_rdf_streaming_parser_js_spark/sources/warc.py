"""WARC (Web ARChive) source: the container format web crawls
actually ship in (Common Crawl distributes WARC; ISO 28500).

Dependency-free record-level codec plus the Spark ingestion shape:
whole WARC files arrive through Spark's ``binaryFile`` source (path,
bytes), and an Arrow ``mapInPandas`` stage walks each file's records
and explodes them to (url, html) page rows — the 1->N expansion
happens inside the batch, so a file's records stream out without
driver involvement. Downstream is the ordinary pages pipeline
(extract -> skolemize -> dedup).

Scale notes: real crawls are many ~1 GB WARC files — file-per-task
parallelism is the natural partitioning and binaryFile already
provides it. gzip members (the .warc.gz framing) are out of scope
here (no streaming-gzip splitting without a codec); plain .warc
records parse exactly per spec: header block terminated by CRLF CRLF,
``Content-Length`` octets of payload, CRLF CRLF record separator.
Only ``WARC-Type: response`` records yield pages; the HTTP response
envelope is stripped at its own blank line.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from ..functions.charset import decode_html
from ..operators.rows import map_rows

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

_CRLF2 = b"\r\n\r\n"

# HTTP envelope Content-Type charset parameter (RFC 9110 §8.3), both
# quoted and bare token forms
_HTTP_CHARSET_RE = re.compile(
    rb"(?im)^content-type:[^\r\n]*?;\s*charset\s*=\s*\"?([A-Za-z0-9._:+-]+)"
)


def encode_warc(
    records: list[tuple[str, bytes]] | list[tuple[str, bytes, str | None]],
    content_type: str = "text/html",
) -> bytes:
    """(url, html_bytes[, base_iri]) pages -> a WARC/1.0 byte stream of
    response records with a minimal HTTP envelope. A non-None base_iri
    is carried in a ``WARC-X-Base-IRI`` extension header (allowed by
    ISO 28500; readers skip unknown headers). ``content_type`` is the
    HTTP Content-Type written in each envelope — include a
    ``; charset=...`` parameter to exercise the transport-charset
    default the reader honors."""
    out = []
    for rec in records:
        url, html = rec[0], rec[1]
        base = rec[2] if len(rec) > 2 else None
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {content_type}\r\n\r\n"
        ).encode("ascii") + html
        extra = f"WARC-X-Base-IRI: {base}\r\n" if base is not None else ""
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"{extra}"
            "Content-Type: application/http;msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n"
            "\r\n"
        ).encode()
        out.append(head + http + _CRLF2)
    return b"".join(out)


def parse_warc(data: bytes) -> list[tuple[str, bytes, dict]]:
    """WARC bytes -> [(target_uri, html_bytes, headers)] for response
    records (headers: the record's lower-cased WARC header dict).

    Real record walk: version line + headers to the blank line,
    ``Content-Length`` octets of payload, two CRLFs between records;
    non-response records (warcinfo, request, metadata) are skipped by
    their declared length, exactly as a crawler-grade reader would."""
    pages: list[tuple[str, bytes, dict]] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos : pos + 5] != b"WARC/":
            raise ValueError(f"expected WARC version line at byte {pos}")
        head_end = data.find(_CRLF2, pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(b"\r\n")[1:]:
            key, _, val = line.partition(b":")
            headers[key.decode("ascii", "replace").strip().lower()] = (
                val.decode("utf-8", "replace").strip()
            )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("WARC record missing valid Content-Length") from exc
        body = data[head_end + 4 : head_end + 4 + length]
        if len(body) != length:
            raise ValueError(
                f"WARC payload truncated: {len(body)}/{length} bytes"
            )
        if headers.get("warc-type") == "response":
            url = headers.get("warc-target-uri", "")
            http_end = body.find(_CRLF2)
            html = body[http_end + 4 :] if http_end >= 0 else body
            if http_end >= 0:
                # transport charset from the HTTP envelope (weakest
                # evidence: decode_html uses it only when the bytes
                # carry no BOM and no meta declaration)
                m = _HTTP_CHARSET_RE.search(body[:http_end])
                if m:
                    headers["x-http-charset"] = m.group(1).decode(
                        "ascii", "replace"
                    ).strip().lower()
            pages.append((url, html, headers))
        pos = head_end + 4 + length
        if data[pos : pos + 4] == _CRLF2:
            pos += 4
    return pages


WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("html", T.StringType(), True),
        T.StructField("base_iri", T.StringType(), True),
    ]
)


def _file_pages(content) -> list[tuple]:
    """One WARC file's (url, html, base_iri) page rows."""
    return [
        (
            url,
            # BOM/meta charset sniff with UTF-8 fallback — the same
            # decode contract as the parquet page path; the HTTP
            # envelope's charset is the last-resort default
            # (in-document evidence outranks transport)
            decode_html(html, default=headers.get("x-http-charset")),
            # a crawled document's base IRI is its own URI unless the
            # writer pinned one explicitly
            headers.get("warc-x-base-iri", url),
        )
        for url, html, headers in parse_warc(bytes(content))
    ]


def read_warc_pages(spark: "SparkSession", path: str) -> "DataFrame":
    """All response records under ``path`` (a dir of .warc files) as a
    (url, html) pages DataFrame: binaryFile scan (file-per-task) ->
    Arrow batch record walk -> exploded page rows."""
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.warc"
    ).load(path)
    return map_rows(files, ["content"], _file_pages, WARC_PAGES_SCHEMA)
