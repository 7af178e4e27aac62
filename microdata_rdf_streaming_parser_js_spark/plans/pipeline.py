"""End-to-end KG-construction plan (north_rule pipeline):

  pages -> host-bucket -> [resume filter] -> extract (mapInPandas)
        -> skolemize -> entity-link -> canonicalize
        -> materialize nodes/edges/triples + _progress checkpoints

Distinct graph rows are the writer's rule: ``materialize_wave`` drops
repeated (url, triple) rows in the one shuffle that lays the wave out.

The only Python crossing is extraction (Arrow); every other stage is
JVM column expressions / shuffles. Buckets are processed in waves so a
failed run resumes from the last committed wave's checkpoint (anti-join
on the _progress ledger).
"""

from __future__ import annotations

import uuid
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize_subjects, dedup_triples
from ..operators.extract import extract_triples
from ..operators.linking import link_entities
from ..operators.skolemize import skolemize
from ..sources.writers import completed_buckets, materialize_wave, with_host_bucket

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def link_and_canonicalize(triples: "DataFrame") -> "DataFrame":
    """Lazy plan skolemized -> canonical (not deduped) triples: the
    entity-link mapping is built from ``triples`` and joined back onto
    them, so the input is read twice; persist it to extract once."""
    return canonicalize_subjects(triples, link_entities(triples))


def build_triples(pages: "DataFrame") -> "DataFrame":
    """Logical plan pages -> distinct canonical triples (no writes, no cache)."""
    canonical = link_and_canonicalize(skolemize(extract_triples(pages)))
    return dedup_triples(canonical, per_graph=True)


def run_pipeline(
    spark: "SparkSession",
    pages: "DataFrame",
    out_dir: str,
    n_buckets: int = 64,
    wave_size: int = 64,
    salt_n: int = 8,
    input_fingerprint: str = "",
    resume: bool = True,
) -> dict:
    """Execute the full pipeline with per-bucket checkpoints.

    Returns a small lineage/metrics dict. Re-running after a crash
    skips buckets already in the ledger (resume=True). Each wave's
    extraction is cached for the wave only, so the run leaves Spark's
    cache as it found it.
    """
    run_id = uuid.uuid4().hex[:12]
    pages_b = with_host_bucket(pages, n_buckets)

    done = completed_buckets(spark, out_dir) if resume else set()
    todo = sorted(set(range(n_buckets)) - done)
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]

    for wave in waves:
        wave_pages = pages_b.filter(F.col("host_bucket").isin(wave)).drop("host_bucket")
        extracted = skolemize(extract_triples(wave_pages)).persist()
        try:
            materialize_wave(
                spark,
                with_host_bucket(link_and_canonicalize(extracted), n_buckets),
                out_dir,
                wave,
                salt_n=salt_n,
                input_fingerprint=input_fingerprint,
                run_id=run_id,
            )
        finally:
            extracted.unpersist()
    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "buckets_skipped": len(done),
        "waves_run": len(waves),
    }
