"""Crawl governance: robots.txt (RFC 9309) URL filtering.

The step between fetching and processing in any compliant crawl
pipeline: given the corpus of pages and the per-host robots.txt
bodies, keep only URLs the configured agent may crawl.

Shape: pages join the robots table on a regex-extracted host, then an
Arrow ``mapInPandas`` stage applies the RFC longest-match semantics —
rule parsing is cached per distinct robots body within each batch, so
the per-row work is one regex scan over the pre-compiled rule list.
Matching is genuinely imperative (wildcards, $-anchors, longest-match/
allow-wins tie rule), which is exactly the documented threshold for
dropping to a Python kernel.

The join strategy is Spark's byte threshold plus AQE's runtime re-plan:
a small robots table broadcasts (the page side never shuffles); "one
row per host" at Common-Crawl scale (~10^8 hosts x KB-scale bodies,
tens of GB) is over it and sort-merges on ``_host``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.robots import parse_robots, url_allowed
from .links import HOST_PATTERN

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_PATH_PATTERN = r"^https?://[^/]+(/.*)?$"


def robots_filter(
    pages: "DataFrame",
    robots: "DataFrame",
    agent: str = "sparkbot",
    url_col: str = "url",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> "DataFrame":
    """``pages`` plus an ``allowed`` boolean per row: whether ``agent``
    may crawl the URL under its host's robots.txt (hosts with no
    robots row are allowed, per the protocol's missing-file rule).
    Callers filter on it; keeping the column makes the decision
    auditable.
    Building the plan runs no job (join strategy: module docstring).
    """
    import pandas as pd

    out_schema = T.StructType(
        list(pages.schema.fields) + [T.StructField("allowed", T.BooleanType(), True)]
    )
    robots_kv = robots.select(
        F.col(host_col).alias("_host"), F.col(txt_col).alias("_robots")
    )
    joined = pages.withColumn(
        "_host", F.regexp_extract(F.col(url_col), HOST_PATTERN, 1)
    ).join(robots_kv, "_host", "left")
    page_cols = [f.name for f in pages.schema.fields]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import re

        path_rx = re.compile(_PATH_PATTERN)
        cache: dict[str, list] = {}
        for pdf in batches:
            allowed = []
            for url, txt in zip(pdf[url_col], pdf["_robots"]):
                if txt is None:
                    allowed.append(True)
                    continue
                rules = cache.get(txt)
                if rules is None:
                    rules = cache[txt] = parse_robots(txt, agent)
                m = path_rx.match(url or "")
                path = (m.group(1) or "/") if m else "/"
                allowed.append(url_allowed(rules, path))
            out = pdf[page_cols].copy()
            out["allowed"] = allowed
            yield out

    return joined.mapInPandas(fn, schema=out_schema)


def politeness_schedule(
    urls: "DataFrame",
    host_col: str = "_host",
    key_col: str = "url",
    per_wave: int = 1,
    delay_s: int = 1,
    salt: str = "sched",
) -> "DataFrame":
    """Crawl-frontier scheduling under per-host politeness: assign each
    URL a fetch wave and start offset such that at most ``per_wave``
    URLs of a host are fetched per wave, waves ``delay_s`` apart — the
    deterministic batch twin of a crawler's per-host rate limiter.

    Order within a host is md5(key|salt) (ties by key), the same
    content-hash device as the quota/split operators, so the schedule
    is reproducible across reruns and engines and is independent of
    input partitioning. One shuffle (on host for the rank window);
    wave/offset are plain arithmetic on the rank. Returns the input
    keys plus (host_rank, wave, offset_s).
    """
    if per_wave < 1:
        raise ValueError(f"per_wave must be >= 1, got {per_wave}")
    if delay_s < 0:
        raise ValueError(f"delay_s must be >= 0, got {delay_s}")
    from pyspark.sql import Window

    digest = F.md5(
        F.concat(F.col(key_col).cast("string"), F.lit(f"|{salt}"))
    )
    w = Window.partitionBy(host_col).orderBy(digest.asc(), F.col(key_col).asc())
    ranked = urls.select(
        key_col,
        F.col(host_col).alias("host"),
        F.row_number().over(w).cast("long").alias("host_rank"),
    )
    wave = (F.col("host_rank") - 1).cast("long") / F.lit(per_wave)
    return ranked.select(
        key_col,
        "host",
        "host_rank",
        F.floor(wave).cast("long").alias("wave"),
        (F.floor(wave) * delay_s).cast("long").alias("offset_s"),
    )


def crawl_delta(
    old: "DataFrame",
    new: "DataFrame",
    key_col: str = "url",
    digest_col: str = "digest",
) -> "DataFrame":
    """Incremental-crawl change detection: full-outer join of the
    previous snapshot's (key, content-digest) ledger against the new
    crawl's, classifying every key as ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the delta that drives re-extraction
    (only added+changed pages re-enter the KG pipeline) and tombstoning
    (removed pages retire their triples).

    Both inputs are (key, digest) pairs — kilobyte-scale ledgers per
    10^12-page snapshot live fine in a table; the join is one shuffle
    on the key (or zero if both ledgers are bucketed by key on disk).
    """
    o = old.select(
        F.col(key_col).alias("k"), F.col(digest_col).alias("od")
    )
    n = new.select(
        F.col(key_col).alias("k"), F.col(digest_col).alias("nd")
    )
    joined = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("od").isNull(), F.lit("added"))
        .when(F.col("nd").isNull(), F.lit("removed"))
        .when(F.col("od") == F.col("nd"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("k").alias(key_col), status.alias("status"))
