"""Output checks for one benchmark run.

The materialized graph is compared with an independent pandas
recomputation of skolemize -> link -> canonicalize -> dedup from the
extraction output, written here from the stage contracts rather than
by calling the program's operators. Extraction itself is scored
against the generator's expected triples with a Spark set join.
"""

from __future__ import annotations

import hashlib
import os
import unicodedata
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from microdata_rdf_streaming_parser_js_spark.operators.extract import extract_triples
from microdata_rdf_streaming_parser_js_spark.operators.skolemize import DEFAULT_SALT
from microdata_rdf_streaming_parser_js_spark.sources.pages import read_pages
from workloads import ARTICLE_BODY, EXPECTED_COLS, N_BUCKETS

KEY = EXPECTED_COLS
SCHEMA_NAME = "http://schema.org/name"
_JAVA_SPACE = frozenset(" \t\n\x0b\f\r")


def bucket_col():
    """Host bucket of ``url``: pmod(murmur3(host), n) as the writers
    layer documents it, written out here so the graph's buckets are
    checked against an independent derivation."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return F.pmod(F.hash(host), F.lit(N_BUCKETS)).cast("int")


def read_graph(out_dir: str, table: str = "triples") -> pd.DataFrame:
    return pq.read_table(os.path.join(out_dir, table)).to_pandas()


def read_ledger(out_dir: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(out_dir, "_progress")).to_pandas()


def files_under(*dirs: str) -> list[str]:
    return [os.path.join(root, f) for d in dirs for root, _dirs, files in os.walk(d) for f in files]


def graph_files(out_dir: str) -> list[str]:
    """Every file of the triples, nodes and edges tables."""
    return files_under(*(os.path.join(out_dir, t) for t in ("triples", "nodes", "edges")))


def graph_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in graph_files(out_dir))


# -- independent recomputation -------------------------------------------------

def _skolem(url: str, label: str) -> str:
    digest = hashlib.sha256(f"{url}|{DEFAULT_SALT}|{label}".encode()).hexdigest()
    return "urn:skolem:" + digest


def _norm_key(name: str) -> str:
    """lower(trim) -> drop chars outside letters, numbers and Java \\s ->
    collapse Java \\s runs to one space (the mention-key contract)."""
    s = name.strip(" ").lower()
    s = "".join(
        ch for ch in s if ch in _JAVA_SPACE or unicodedata.category(ch)[0] in "LN"
    )
    out, prev_space = [], False
    for ch in s:
        if ch in _JAVA_SPACE:
            if not prev_space:
                out.append(" ")
            prev_space = True
        else:
            out.append(ch)
            prev_space = False
    return "".join(out)


def _link_mapping(df: pd.DataFrame) -> dict[str, str]:
    """iri -> canonical iri: per mention key the most-mentioned entity
    (ties: smallest iri) is canonical; an iri in several keys takes the
    smallest canonical."""
    names = df[(df.pred == SCHEMA_NAME) & (df.obj_kind == "literal")]
    freq = Counter()
    for subj, obj in zip(names.subj, names.obj):
        key = _norm_key(obj)
        if key:
            freq[(key, subj)] += 1
    best: dict[str, tuple[int, str]] = {}
    for (key, subj), n in freq.items():
        cur = best.get(key)
        if cur is None or (-n, subj) < cur:
            best[key] = (-n, subj)
    mapping: dict[str, str] = {}
    for key, subj in freq:
        canon = best[key][1]
        if subj != canon and (subj not in mapping or canon < mapping[subj]):
            mapping[subj] = canon
    return mapping


def recompute_graph(extracted: pd.DataFrame, wave_size: int) -> Counter:
    """Expected materialized triples (multiset of KEY + host_bucket)
    from non-error extraction rows carrying ``host_bucket``."""
    df = extracted[extracted.error.isna()].copy()
    blank_s = df.subj.str.startswith("_:")
    df.loc[blank_s, "subj"] = [_skolem(u, s) for u, s in zip(df.url[blank_s], df.subj[blank_s])]
    blank_o = df.obj_kind == "blank"
    df.loc[blank_o, "obj"] = [_skolem(u, o) for u, o in zip(df.url[blank_o], df.obj[blank_o])]
    df.loc[blank_o, "obj_kind"] = "iri"
    out = Counter()
    # linking runs per wave of host buckets, so co-reference is resolved
    # within a wave only
    for _wave, part in df.groupby(df.host_bucket // wave_size):
        mapping = _link_mapping(part)
        rows = set()
        for t in part[KEY + ["host_bucket"]].itertuples(index=False, name=None):
            url, subj, pred, obj, kind, lang, dt, bucket = t
            subj = mapping.get(subj, subj)
            if kind == "iri":
                obj = mapping.get(obj, obj)
            rows.add((url, subj, pred, obj, kind, lang, dt, int(bucket)))
        out.update(rows)
    return out


def _none(v):
    return None if v is None or (isinstance(v, float) and v != v) else v


def graph_multiset(graph: pd.DataFrame) -> Counter:
    return Counter(
        tuple(_none(v) for v in t[:-1]) + (int(t[-1]),)
        for t in graph[KEY + ["host_bucket"]].itertuples(index=False, name=None)
    )


# -- checks --------------------------------------------------------------------

class CheckResult:
    def __init__(self):
        self.failures: list[str] = []
        self.values: dict[str, float] = {}
        # host bucket -> pages quarantined in the ``error`` column
        self.error_pages: Counter = Counter()

    def require(self, ok: bool, message: str) -> None:
        if not ok:
            self.failures.append(message)

    @property
    def ok(self) -> bool:
        return not self.failures


def extraction(spark, pages_path: str):
    """Extraction output with quarantined rows kept, plus host bucket;
    persisted because the set join and the pandas copy both read it."""
    ex = extract_triples(read_pages(spark, pages_path), keep_errors=True)
    return ex.withColumn("host_bucket", bucket_col()).persist()


def check_extraction(spark, ex, expected_path: str, res: CheckResult) -> None:
    expected = spark.read.parquet(expected_path).select(*KEY).distinct()
    got = ex.filter(F.col("error").isNull()).select(*KEY).distinct()
    matched = got.intersect(expected).count()
    n_got, n_exp = got.count(), expected.count()
    res.values["triple_precision"] = matched / n_got if n_got else 0.0
    res.values["triple_recall"] = matched / n_exp if n_exp else 0.0
    res.require(
        matched == n_got == n_exp,
        f"extraction differs from the expected triples: {n_got - matched} unexpected, {n_exp - matched} missing",
    )
    quarantined = ex.filter(F.col("error").isNotNull()).select("url", "host_bucket").distinct().collect()
    res.error_pages = Counter(r.host_bucket for r in quarantined)


def check_graph(
    out_dir: str,
    extracted: pd.DataFrame,
    expected_path: str,
    wave_size: int,
    n_pages: int,
    res: CheckResult,
) -> pd.DataFrame:
    """Graph vs recomputation, nodes/edges vs graph, ledger coverage
    and counts, and the articleBody text invariant. Returns the graph."""
    graph = read_graph(out_dir)
    got = graph_multiset(graph)
    want = recompute_graph(extracted, wave_size)
    res.require(got == want, f"graph differs from recomputation: {sum((got - want).values())} extra, {sum((want - got).values())} missing")

    literal = graph.obj_kind == "literal"
    edges = read_graph(out_dir, "edges")
    want_edges = Counter(
        zip(graph.host_bucket[~literal].astype(int), graph.subj[~literal], graph.pred[~literal], graph.obj[~literal], graph.url[~literal])
    )
    got_edges = Counter(zip(edges.host_bucket.astype(int), edges.subj, edges.pred, edges.obj, edges.url))
    res.require(got_edges == want_edges, "edges differ from the graph's non-literal triples")
    nodes = read_graph(out_dir, "nodes")
    want_nodes = set(zip(graph.host_bucket.astype(int), graph.subj)) | set(
        zip(graph.host_bucket[~literal].astype(int), graph.obj[~literal])
    )
    got_nodes = list(zip(nodes.host_bucket.astype(int), nodes.iri))
    res.require(len(got_nodes) == len(set(got_nodes)) and set(got_nodes) == want_nodes, "nodes differ from the graph's terms")

    ledger = read_ledger(out_dir)
    per_bucket = Counter(ledger.host_bucket.astype(int))
    res.require(
        set(per_bucket) == set(range(N_BUCKETS)) and set(per_bucket.values()) == {1},
        f"ledger does not cover every bucket exactly once: {len(per_bucket)} buckets, max {max(per_bucket.values(), default=0)} rows",
    )
    counts = graph.host_bucket.astype(int).value_counts()
    ledger_n = dict(zip(ledger.host_bucket.astype(int), ledger.n_triples))
    res.require(
        all(ledger_n.get(b, 0) == counts.get(b, 0) for b in range(N_BUCKETS)),
        "ledger n_triples disagree with the materialized triples",
    )

    bodies = pq.read_table(expected_path, filters=[("pred", "=", ARTICLE_BODY)]).to_pandas()
    want_body = dict(zip(bodies.url, bodies.obj))
    got_bodies = graph[graph.pred == ARTICLE_BODY]
    seen = Counter(got_bodies.url)
    exact = sum(
        1 for u, o in zip(got_bodies.url, got_bodies.obj) if seen[u] == 1 and want_body.get(u) == o
    )
    res.values["text_exact_share"] = exact / n_pages
    res.require(exact == n_pages, f"articleBody text differs from the source on {n_pages - exact} of {n_pages} pages")
    res.values["graph_triples"] = len(graph)
    return graph


def check_same_graph(graph: pd.DataFrame, reference_dir: str, res: CheckResult) -> None:
    ref = graph_multiset(read_graph(reference_dir))
    res.require(graph_multiset(graph) == ref, "resumed graph differs from the uninterrupted graph")
