"""D5 — triple dedup + subject canonicalization.

Dedup is a single shuffle on the full triple key; AQE coalesces the
post-shuffle partitions. Canonicalization maps co-referent subject IRIs
(same canonical entity key) onto one canonical IRI chosen
deterministically (min), via a mapping table that is broadcast when
small and sort-merge joined otherwise: Spark picks the join from its
byte threshold (``spark.sql.autoBroadcastJoinThreshold``) on the plan's
size estimate, and AQE re-plans it from the mapping's real shuffle size
at run time.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

TRIPLE_KEY = ["subj", "pred", "obj", "obj_kind", "obj_lang", "obj_datatype"]


def dedup_triples(triples: "DataFrame", per_graph: bool = False) -> "DataFrame":
    """Exact duplicate elimination over the RDF triple key.

    ``per_graph=True`` keeps one copy per (url, triple) — provenance-
    preserving; default collapses across the whole corpus (RDF set
    semantics). Map-side partial aggregation applies automatically
    (HashAggregate before the exchange).
    """
    key = (["url"] if per_graph else []) + TRIPLE_KEY
    return triples.dropDuplicates(key)


def canonicalize_subjects(triples: "DataFrame", mapping: "DataFrame") -> "DataFrame":
    """Rewrite subj/obj IRIs through a (iri -> canonical_iri) mapping.

    ``mapping`` columns: ``iri``, ``canonical_iri``. Building the plan
    runs no job; a mapping Spark cannot size (RDD-backed) plans
    sort-merge and AQE broadcasts it from its runtime size.
    """
    m_subj = mapping.withColumnRenamed("iri", "subj").withColumnRenamed(
        "canonical_iri", "_canon_subj"
    )
    m_obj = mapping.withColumnRenamed("iri", "obj").withColumnRenamed(
        "canonical_iri", "_canon_obj"
    )
    out = (
        triples.join(m_subj, "subj", "left")
        .join(m_obj.withColumnRenamed("obj", "_m_obj"),
              (F.col("obj") == F.col("_m_obj")) & (F.col("obj_kind") == "iri"),
              "left")
        .withColumn("subj", F.coalesce("_canon_subj", "subj"))
        .withColumn("obj", F.coalesce("_canon_obj", "obj"))
        .drop("_canon_subj", "_canon_obj", "_m_obj")
    )
    return out
