"""Synthetic Common-Crawl-style ``pages`` corpora (deterministic).

Input-hint schema (BASELINE.json): ``url:string, warc_ts:timestamp,
html:binary, text:string, lang:string``.

Two generators:

- :func:`synthesize_fixture_pages` — golden-fixture corpus (driver-side,
  small): every page's HTML is one of the reference-derived conformance
  fixtures, hosts assigned with a Zipf-ish skew so one mega-host
  dominates (exercises salting). Used for correctness tests and the
  driver oracle.
- :func:`pages_from_documents` — scale corpus (fully distributed, pure
  column expressions over the provided ``documents`` parquet): wraps
  each document's text into a deterministic schema.org/Article page.
  Scales with sf and never loops in the driver. Used by bench.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import TYPE_CHECKING

from ..fixtures import FIXTURES
from ..functions.microdata import extract_text

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "data web graph page crawl parse spark node edge triple item scope "
    "property type value content link meta time span title body text"
).split()


def _filler(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def host_for(i: int, rng: random.Random, n_hosts: int) -> int:
    """Zipf-ish host assignment: log-uniform over [0, n_hosts) so host 0
    receives a disproportionate share (the 'mega-host' skew knob)."""
    u = rng.random()
    return int(n_hosts**u) - 1


def synthesize_fixture_pages(
    spark: "SparkSession",
    n_pages: int = 500,
    n_hosts: int = 20,
    seed: int = 42,
    pad_bytes: int = 0,
):
    """Deterministic pages DataFrame built from the conformance fixtures.

    Each page i uses fixture ``FIXTURES[i % len]``; its ``url`` doubles
    as the parser base IRI. ``text`` is the extracted-text invariant
    column. ``pad_bytes`` appends plain non-microdata filler to approach
    realistic page sizes without changing the triple output.
    """
    rng = random.Random(seed)
    rows = []
    for i in range(n_pages):
        fixture = FIXTURES[i % len(FIXTURES)]
        host = host_for(i, rng, n_hosts)
        url = f"http://host{host}.example.org/{fixture.name}/{i}.html"
        html = fixture.html
        if pad_bytes:
            filler = _filler(rng, max(1, pad_bytes // 6))
            html = html.replace("</body>", f"<p>{filler}</p></body>") if "</body>" in html else html + f"<p>{filler}</p>"
        rows.append(
            (
                url,
                _EPOCH + timedelta(seconds=i),
                html.encode("utf-8"),
                extract_text(html),
                "en",
            )
        )
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def pages_from_documents(
    spark: "SparkSession", sf_dir: str, n_hosts: int = 50
) -> "DataFrame":
    """Distributed scale corpus: one schema.org/Article page per row of
    ``{sf_dir}/documents.parquet`` — pure column expressions (no UDF,
    no driver loop), so generation itself is Catalyst-codegen'd and the
    corpus scales linearly with sf.

    Host assignment uses pmod(hash(doc_id)) raised to a power to skew
    volume toward low host ids (mega-host simulation).
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Zipf-flavored host: square of a uniform hash -> concentrated low ids
    u = (F.pmod(F.hash("doc_id"), F.lit(1000)) / 1000.0)
    host = F.floor(F.pow(F.lit(float(n_hosts)), u)) - 1
    url = F.concat(
        F.lit("http://host"),
        host.cast("string"),
        F.lit(".example.org/article/"),
        F.col("doc_id").cast("string"),
        F.lit(".html"),
    )
    title = F.concat(F.lit("Document "), F.col("doc_id").cast("string"))
    html = F.concat(
        F.lit(
            '<html>\n<head><meta charset="utf-8"></head>\n<body>\n'
            '<div itemscope itemtype="http://schema.org/Article" itemid="'
        ),
        url,
        F.lit('">\n  <h1 itemprop="name">'),
        title,
        F.lit('</h1>\n  <meta itemprop="inLanguage" content="'),
        F.coalesce(F.col("lang"), F.lit("und")),
        F.lit('">\n  <link itemprop="isBasedOn" href="/source/'),
        F.coalesce(F.col("source"), F.lit("unknown")),
        F.lit('">\n  <data itemprop="wordCount" value="'),
        F.col("n_chars").cast("string"),
        F.lit('"></data>\n  <time itemprop="datePublished" datetime="2024-01-'),
        F.lpad((F.pmod(F.col("doc_id"), F.lit(28)) + 1).cast("string"), 2, "0"),
        F.lit('"></time>\n  <span itemprop="articleBody">'),
        # Escape the three HTML-special chars so text round-trips exactly.
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), "&", "&amp;"),
                "<",
                "&lt;",
            ),
            ">",
            "&gt;",
        ),
        F.lit("</span>\n</div>\n</body>\n</html>"),
    )
    return docs.select(
        url.alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("doc_id").cast("double"))).alias(
            "warc_ts"
        ),
        F.encode(html, "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.coalesce(F.col("lang"), F.lit("und")).alias("lang"),
    )


def read_pages(spark: "SparkSession", path: str, fmt: str = "parquet") -> "DataFrame":
    """D1 — pages scan. ``fmt='iceberg'`` on clusters with an Iceberg
    catalog; parquet locally. Column pruning to (url, html) happens in
    extract_triples; partition pruning comes from the table layout."""
    return spark.read.format(fmt).load(path)


def synthesize_oracle_pages(spark: "SparkSession"):
    """One page per conformance fixture with a UNIQUE url (for skolem
    keys / attribution) but the fixture's own base IRI carried in a
    ``base_iri`` column — so expected triples equal the transcribed
    golden triples verbatim. Backs the driver's extraction oracle."""
    rows = []
    for idx, f in enumerate(FIXTURES):
        url = f"http://pages.example.org/{f.name}.html"
        rows.append(
            (
                url,
                _EPOCH + timedelta(seconds=idx),
                f.html.encode("utf-8"),
                extract_text(f.html),
                "en",
                f.base_iri,
            )
        )
    # tiny corpus: a handful of partitions beats defaultParallelism-many
    # near-empty Python tasks
    return spark.createDataFrame(
        rows, schema=PAGES_SCHEMA + ", base_iri string"
    ).coalesce(4)
