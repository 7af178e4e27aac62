"""Text-analysis column functions over a ``documents`` table:
language-ID (marker-word heuristic), quality scoring, token counting
(whitespace + BPE-ish sub-word estimate), document fingerprinting.

All pure JVM column expressions (codegen'd, no UDFs), deliberately
built from engine-portable primitives (split / regexp / md5) so every
function has an exact DuckDB oracle.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column

# marker words per language for the n-gram/lexicon language heuristic;
# chosen to be disjoint across languages.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "et", "les", "des", "est", "dans", "une"),
    "es": ("el", "los", "que", "por", "una", "para", "con", "las"),
}

STOPWORDS_EN = (
    "the a an and or of to in is are was were be been it this that "
    "for on with as at by from"
).split()


def _tokens(col: "Column") -> "Column":
    return F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")


def token_count(col: "Column") -> "Column":
    """Whitespace token count (0 for empty/blank)."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(col))
    )


def subword_count(col: "Column") -> "Column":
    """BPE-ish token estimate: word-piece regex matches — runs of
    letters, runs of digits, or single non-space symbols."""
    return F.coalesce(
        F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")), F.lit(0)
    )


def _count_matches(col: "Column", pattern: str) -> "Column":
    return F.coalesce(F.regexp_count(col, F.lit(pattern)), F.lit(0))


def _marker_hits(col: "Column", markers: tuple[str, ...]) -> "Column":
    toks = _tokens(col)
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(col: "Column") -> "Column":
    """Heuristic language id: argmax of marker-word hits (priority
    order en > de > fr > es on ties; 'und' when no marker fires)."""
    hits = {lang: _marker_hits(col, m) for lang, m in LANG_MARKERS.items()}
    en, de, fr, es = (hits[k] for k in ("en", "de", "fr", "es"))
    return (
        F.when((en > 0) & (en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de > 0) & (de >= fr) & (de >= es), F.lit("de"))
        .when((fr > 0) & (fr >= es), F.lit("fr"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def quality_score_u(col: "Column") -> "Column":
    """Integer quality score: floor(raw * 1e6) — rounding-ambiguity-free
    for cross-engine comparison."""
    return F.floor(_quality_raw(col) * 1e6).cast("long")


def _quality_raw(col: "Column") -> "Column":
    n_chars = F.length(col)
    n_alpha = _count_matches(col, r"[A-Za-z]")
    n_punct = _count_matches(col, r"[!\"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]")
    toks = token_count(col)
    stop_hits = F.size(F.filter(_tokens(col), lambda t: t.isin(*STOPWORDS_EN)))

    len_score = F.when(n_chars >= 200, F.lit(1.0)).otherwise(n_chars / F.lit(200.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars.cast("double")).otherwise(F.lit(0.0))
    stop_ratio = F.when(toks > 0, stop_hits / toks.cast("double")).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(F.lit(0.0))

    return (
        F.lit(0.25) * len_score
        + F.lit(0.35) * alpha_ratio
        + F.lit(0.25) * F.least(stop_ratio * 2, F.lit(1.0))
        + F.lit(0.15) * (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0)))
    )


def fingerprint(col: "Column") -> "Column":
    """Content fingerprint: md5 over normalized text (lower, collapsed
    whitespace) — stable across engines and whitespace layout."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def compress_ratio_u(text: str, level: int = 6, scale: int = 1_000_000):
    """(n_bytes, comp_bytes, ratio_u): zlib-compressed size of the
    UTF-8 text as a micro-unit fraction of the raw size — the
    compression-ratio quality signal (highly repetitive/templated
    pages compress far below prose; used alongside the Gopher rules
    to drop boilerplate-heavy documents).

    Deterministic for a fixed zlib level, so the DuckDB oracle embeds
    this kernel's local output as golden VALUES (the shared-kernel
    pattern; SQL has no zlib). Empty text reports ratio 0.
    """
    import zlib

    raw = text.encode("utf-8")
    if not raw:
        return (0, 0, 0)
    comp = zlib.compress(raw, level)
    return (len(raw), len(comp), (len(comp) * scale) // len(raw))


def nfc_digest(text: str) -> str:
    """md5 hex of the NFC-normalized text (Unicode TR15 canonical
    composition): 'cafe\\u0301' and 'caf\\u00e9' digest identically, so
    byte-level encoding variance (decomposed combining marks, Hangul
    jamo sequences) stops defeating exact dedup. Deliberately does NOT
    lowercase or collapse whitespace — that is norm_text's job and a
    third normalizer implementation would risk cross-engine regex
    drift; NFC targets encoding variance only.

    Cross-engine: DuckDB's ``nfc_normalize`` was differential-tested
    byte-identical against ``unicodedata.normalize("NFC", .)`` on
    combining-mark reordering, Hangul jamo composition, composition
    exclusions (Tibetan), and NFC-invariant compatibility chars
    (ligature fi stays — this is NFC, not NFKC).
    """
    import hashlib
    import unicodedata

    norm = unicodedata.normalize("NFC", text or "")
    return hashlib.md5(norm.encode("utf-8")).hexdigest()
