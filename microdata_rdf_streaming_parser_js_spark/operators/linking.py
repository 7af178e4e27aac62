"""D4 — mention detection + entity-link scoring -> canonical-id mapping.

Entities extracted from microdata carry free-text names
(e.g. schema.org/name literals) and itemid IRIs. Linking groups
candidate mentions by a normalized key, scores (mention, candidate)
pairs in batches, and picks the argmax per mention via a window —
classic "group / score / rank-1" shape:

  mentions --groupBy(norm_key)--> candidates --score--> row_number()==1

Scale notes:
- normalization and scoring are pure column expressions / window
  aggregates (JVM codegen), no Python crossing;
- the argmax is `first()` over (mention_key) ordered by frequency desc —
  one shuffle on mention_key; AQE skew handling covers hot names
  ("home", "index", ...);
- ``score_mentions_pandas`` is the grouped pandas-UDF scoring hook a
  model-based scorer would use; only plans/queries.py runs it.

The output mapping feeds canonicalize.canonicalize_subjects.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

SCHEMA_NAME = "http://schema.org/name"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def norm_key(col):
    """Normalized mention key: lowercase, collapse whitespace, strip
    punctuation — pure column expressions."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return c


def detect_mentions(
    triples: "DataFrame", name_preds: tuple[str, ...] = (SCHEMA_NAME,)
) -> "DataFrame":
    """Mentions = (subject, surface name, normalized key, url)."""
    return (
        triples.filter(
            F.col("pred").isin(*name_preds) & (F.col("obj_kind") == "literal")
        )
        .select(
            F.col("subj").alias("entity_iri"),
            F.col("obj").alias("surface"),
            norm_key(F.col("obj")).alias("mention_key"),
            "url",
        )
        .filter(F.length("mention_key") > 0)
    )


def score_and_link(mentions: "DataFrame") -> "DataFrame":
    """Cluster co-referent mentions and emit (iri -> canonical_iri).

    Candidate generation: exact normalized-key blocking (groupBy
    mention_key). Scoring: within a key, candidates are ranked by
    (surface-form frequency, then lexicographic IRI) — computed with
    window aggregates, fully JVM-side. The canonical entity for a key
    is the rank-1 candidate; every other member maps onto it.
    """
    freq = mentions.groupBy("mention_key", "entity_iri").agg(
        F.count("*").alias("n_mentions")
    )

    # rank-1 pick without a self-join: first() over the ordered window
    # (one shuffle on mention_key total; the window frame default
    # covers the whole ordered partition for first()).
    w = (
        Window.partitionBy("mention_key")
        .orderBy(F.col("n_mentions").desc(), F.col("entity_iri").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    mapping = (
        freq.withColumn("canonical_iri", F.first("entity_iri").over(w))
        .filter(F.col("entity_iri") != F.col("canonical_iri"))
        .select(F.col("entity_iri").alias("iri"), "canonical_iri")
    )
    # An entity can carry several surface names and land in several
    # mention keys with different winners; the mapping MUST be
    # functional (one canonical per iri) or the canonicalize join
    # multiplies triples. Deterministic pick: min canonical.
    return mapping.groupBy("iri").agg(
        F.min("canonical_iri").alias("canonical_iri")
    )


def link_entities(triples: "DataFrame") -> "DataFrame":
    """Convenience: mentions -> mapping in one call."""
    return score_and_link(detect_mentions(triples))


MENTION_SCORE_SCHEMA = (
    "mention_key string, entity_iri string, surface string, score double"
)


def score_mentions_pandas(mentions: "DataFrame") -> "DataFrame":
    """Batched (mention, candidate) scoring in a grouped pandas UDF —
    the slow-path hook for model-based linkers (BASELINE: 'batched
    mention detection and entity-link scoring').

    Groups by ``mention_key`` (the blocking key) and scores every
    member's surface form against the block's most frequent surface
    with a character-trigram Jaccard — a deterministic, dependency-free
    stand-in with the exact shape a learned scorer would use
    (pandas DataFrame in / out, Arrow transfer, one group per block).
    """
    import pandas as pd  # noqa: PLC0415

    def _trigrams(s: str) -> set:
        s = f"  {s.lower()}  "
        return {s[i : i + 3] for i in range(len(s) - 2)}

    def score_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        anchor = pdf["surface"].mode().iloc[0]
        anchor_grams = _trigrams(anchor)
        scores = []
        for surface in pdf["surface"]:
            grams = _trigrams(surface)
            union = len(anchor_grams | grams)
            scores.append(len(anchor_grams & grams) / union if union else 0.0)
        return pd.DataFrame(
            {
                "mention_key": pdf["mention_key"],
                "entity_iri": pdf["entity_iri"],
                "surface": pdf["surface"],
                "score": scores,
            }
        )

    return mentions.groupBy("mention_key").applyInPandas(
        score_block, schema=MENTION_SCORE_SCHEMA
    )


def fuzzy_link_mentions(
    mentions: "DataFrame",
    dictionary: "DataFrame",
    mention_col: str = "mention_key",
    id_col: str = "entity_id",
    name_col: str = "name",
    max_distance: int = 2,
) -> "DataFrame":
    """Record-linkage fuzzy matcher: map each distinct mention surface
    to its closest dictionary/gazetteer name by Levenshtein distance
    (<= ``max_distance``), ties broken by the smaller entity id.

    Candidate generation is length-band blocking: a dictionary name of
    length L can only match mentions of length in [L-d, L+d] (edit
    distance >= length difference), so each dictionary row explodes to
    its 2d+1 admissible lengths and candidates come from an EQUI-join
    on mention length — complete for the bound, never all-pairs. The
    dictionary side (gazetteers are small next to a crawl) is
    broadcast, so the 10^12-mention side is never shuffled for
    candidate generation; the only shuffle is the final per-mention
    argmin, a map-side-combinable min over (distance, entity_id)
    structs. Levenshtein runs JVM-side (built-in, codegen).

    Returns (mention_col, id_col, distance) — one row per distinct
    mention that matched anything.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    d = dictionary.select(
        id_col, name_col, F.length(name_col).alias("_nlen")
    ).withColumn(
        "_mlen",
        F.explode(
            F.sequence(
                F.greatest(F.col("_nlen") - max_distance, F.lit(1)),
                F.col("_nlen") + max_distance,
            )
        ),
    )
    m = (
        mentions.select(mention_col)
        .where(F.length(mention_col) > 0)
        .distinct()
        .withColumn("_mlen", F.length(mention_col))
    )
    scored = (
        m.join(F.broadcast(d), "_mlen")
        .withColumn(
            "distance",
            F.levenshtein(F.col(mention_col), F.col(name_col)).cast("long"),
        )
        .where(F.col("distance") <= max_distance)
    )
    best = scored.groupBy(mention_col).agg(
        F.min(F.struct("distance", id_col)).alias("_b")
    )
    return best.select(
        mention_col,
        F.col(f"_b.{id_col}").alias(id_col),
        F.col("_b.distance").alias("distance"),
    )
