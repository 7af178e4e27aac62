"""Document deduplication operators over a ``documents(doc_id, text,
...)`` table: exact, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

Everything is built from JVM-side column expressions (split/transform/
aggregate/md5/xxhash64) — so whole-stage codegen applies and the only
shuffles are the groupBys/joins intrinsic to each algorithm. Sole
exception: :func:`nfc_dedup` digests through one Arrow ``mapInPandas``
pass, because Spark has no codegen Unicode NFC.

Scale notes (100 TB):
- exact dedup: one shuffle on a 16-byte digest (map-side partial agg).
- MinHash: per-doc signatures are computed scan-side (no explode
  shuffle); LSH banding turns all-pairs into an equi-join on
  (band_id, band_key) — the classic way to avoid the O(n^2) cross
  join. Hot bands (boilerplate docs) are bounded by AQE skew-join.
- SimHash: signature scan-side; candidate pairs via banding on
  16-bit signature chunks (Hamming-distance blocking).
- md5 backs both the MinHash permutations and the SimHash token
  hashes: identical digests across engines make every pair set
  DuckDB-checkable, and the hash cost is dwarfed by the aggregations.
"""

from __future__ import annotations

from itertools import combinations
from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


def norm_text(col: "Column") -> "Column":
    """Lowercase + collapse whitespace (shared doc normalization)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def doc_digest(col: "Column") -> "Column":
    """Exact-dup content fingerprint: md5 of normalized text."""
    return F.md5(norm_text(col))


def exact_dedup(docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text") -> "DataFrame":
    """One row per distinct normalized content: canonical (min) id +
    duplicate count. Single shuffle on the digest."""
    return (
        docs.select(F.col(id_col), doc_digest(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def tokens(col: "Column") -> "Column":
    return F.split(norm_text(col), " ")


def shingles(col: "Column", k: int = 3) -> "Column":
    """Word k-shingles as an array column (empty when < k tokens)."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )).otherwise(F.array())


# MinHash universal-hash family: h_j(x) = (a_j * x + b_j) mod _MH_M
# over the 48-bit md5-prefix integer x of each shingle. Mirrored into
# the DuckDB oracle via import (plans/queries._minhash_cand_cte) —
# these are the single source of truth.
_MH_M = 2147483647  # prime modulus


def _mh_ab(j: int) -> tuple[int, int]:
    """Fixed per-permutation universal-hash parameters. ``a`` is odd
    and < 2^14 so ``a * x`` (x < 2^48) cannot overflow a long; the
    mixing entropy comes from x's md5 bits, a/b only need to decouple
    the n permutation orderings."""
    a = ((24593 * j + 12289) % 16384) | 1
    b = (40503 * j + 997) % _MH_M
    return a, b


def minhash_signatures(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
) -> "DataFrame":
    """Per-doc MinHash signature columns h0..h{n-1} (BIGINT).

    ONE md5 per shingle: x = first 12 hex nibbles of md5(shingle) as a
    48-bit integer, then permutation j = (a_j * x + b_j) mod _MH_M —
    the classic universal-hash family, so n signatures cost one digest
    plus n multiply-adds instead of n digests. At test scale the wall
    time is explode-bound either way (measured equal at sf0.1); the
    scale win is 8x less hash compute on the scan side and LONG
    signature columns ~4x smaller than the previous 32-char hex
    strings in every signature shuffle and in the persisted
    incremental-crawl signature table. ``a_j < 2^14`` keeps
    ``a_j * x`` inside a long under ANSI mode. Engine-portable: the
    DuckDB oracle rebuilds x with nibble arithmetic and replays the
    identical (a_j, b_j) from `_mh_ab` — plans/queries._minhash_cand_cte
    imports them, so there is one source of truth.

    Shape: explode(shingles) -> groupBy(doc).agg(min x n). The explode
    stays in the scan stage and map-side partial aggregation reduces
    the shuffle to ONE row per doc per partition — this beats the
    pure-expression formulation, whose signature tree gets re-inlined
    (no CSE) into every downstream band projection. Docs with fewer
    than k tokens produce no shingles and drop out.
    """
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("s"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, 12), 16, 10)
        .cast("long")
        .alias("x"),
    )
    aggs = []
    for j in range(num_hashes):
        a, b = _mh_ab(j)
        aggs.append(
            F.min(
                F.pmod(F.lit(a) * F.col("x") + F.lit(b), F.lit(_MH_M))
            ).alias(f"h{j}")
        )
    return ex.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> "DataFrame":
    """Candidate near-dup pairs via LSH banding.

    signature -> ``bands`` bands of ``num_hashes/bands`` rows; docs
    agreeing on any full band become a candidate pair. Output:
    (doc_id_a, doc_id_b) with a < b, distinct.
    """
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, k)
    band_rows = _minhash_band_rows(sig, num_hashes, bands)
    left = band_rows.alias("l")
    right = band_rows.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"), F.col("r.doc_id").alias("doc_id_b")
        )
        .distinct()
    )


def _minhash_band_rows(
    sig: "DataFrame", num_hashes: int, bands: int
) -> "DataFrame":
    """(doc_id, band_id, band_key) rows from a signature frame with
    columns h0..h{n-1} — the shared banding step of the batch and
    incremental LSH paths."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(
                                        f"h{b * rows_per_band + r}"
                                    ).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def minhash_lsh_pairs_incremental(
    new_docs: "DataFrame",
    old_sigs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> "DataFrame":
    """Candidate near-dup pairs for a NEW crawl batch against an
    EXISTING corpus — the continuous-crawl shape: the old corpus is
    touched only through its persisted signature table (columns
    doc_id, h0..h{n-1}, i.e. exactly what :func:`minhash_signatures`
    materializes), never re-scanned or re-hashed.

    Output: (new_doc_id, matched_doc_id) — cross pairs against the old
    corpus plus within-batch pairs (new_doc_id < matched_doc_id for
    those), distinct. Scale shape: band equi-join of the new batch's
    band rows against (old ∪ new) band rows; with a day's batch much
    smaller than the corpus, the new side is broadcast-eligible and
    the shuffle carries band keys, not documents. Old ids must be
    disjoint from new ids.
    """
    new_sigs = minhash_signatures(new_docs, id_col, text_col, num_hashes, k)
    new_band = _minhash_band_rows(new_sigs, num_hashes, bands).localCheckpoint(
        eager=False
    )
    old_band = _minhash_band_rows(
        old_sigs.withColumnRenamed(id_col, "doc_id"), num_hashes, bands
    )
    cross = (
        new_band.alias("l")
        .join(
            old_band.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key")),
        )
        .select(
            F.col("l.doc_id").alias("new_doc_id"),
            F.col("r.doc_id").alias("matched_doc_id"),
        )
    )
    within = (
        new_band.alias("l")
        .join(
            new_band.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("new_doc_id"),
            F.col("r.doc_id").alias("matched_doc_id"),
        )
    )
    return cross.union(within).distinct()


def ngram_jaccard_pairs(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    candidates: "DataFrame | None" = None,
    max_shingle_df: int | None = None,
    max_docs_uncapped: int | None = 50_000,
) -> "DataFrame":
    """Exact n-gram Jaccard similarity for candidate pairs.

    With ``candidates`` (e.g. from minhash_lsh_pairs) this verifies
    only the LSH survivors — the scalable shape. Without, it computes
    all-pairs via a shingle inverted index (explode + self-join on
    shingle, then |intersection| per pair).

    The fully-uncapped all-pairs shape (no ``candidates``, no
    ``max_shingle_df``) is a test-scale correctness baseline ONLY, and
    is guarded: above ``max_docs_uncapped`` documents it raises instead
    of launching a self-join that a single boilerplate shingle can blow
    up to ~|corpus|^2 rows. The probe is capped
    (``limit(threshold+1).count()``), so deciding is O(threshold), and
    ``max_docs_uncapped=None`` disables the guard explicitly.

    ``max_shingle_df`` caps the document frequency of shingles entering
    the self-join: a single boilerplate shingle shared by 1M docs would
    otherwise contribute 10^12 join rows, so the uncapped all-pairs
    path is a test-scale correctness baseline ONLY. With a cap, hot
    shingles (df > cap) are dropped from the *intersection* count while
    denominators stay the exact full shingle-set sizes — the standard
    df-cap approximation: pairs whose overlap is carried mostly by
    boilerplate score lower, true near-dups (which share many rare
    shingles too) are preserved for the thresholds in use. The hot set
    is tiny by construction (only shingles above the cap), so the
    anti-join broadcasts.
    """
    if (
        candidates is None
        and max_shingle_df is None
        and max_docs_uncapped is not None
    ):
        n = docs.limit(max_docs_uncapped + 1).count()
        if n > max_docs_uncapped:
            raise ValueError(
                f"ngram_jaccard_pairs: uncapped all-pairs over more than "
                f"{max_docs_uncapped} docs — a hot shingle makes the "
                "shingle self-join quadratic at scale. Pass candidates "
                "(LSH survivors), set max_shingle_df, or explicitly "
                "disable the guard with max_docs_uncapped=None."
            )
    if candidates is not None:
        # pin the candidate pair list FIRST: it fans out (doc-filter
        # broadcast below, final pair semi-join) and is usually a full
        # MinHash-LSH derivation — without the checkpoint each consumer
        # would re-run that pipeline.
        candidates = candidates.localCheckpoint(eager=False)
    if candidates is not None and max_shingle_df is None:
        # verify-only mode: every downstream consumer of the index —
        # intersection join AND the exact denominators (per-doc
        # shingle-set sizes) — only ever reads candidate docs, so the
        # corpus never needs shingling at all. At 10^9 docs with 10^5
        # survivors this is the difference between re-tokenizing the
        # crawl and touching 0.01% of it. (With max_shingle_df the
        # document frequencies are corpus-wide by definition, so the
        # full index must be built — that path is unchanged.)
        _cd = (
            candidates.select(F.col("doc_id_a").alias(id_col))
            .union(candidates.select(F.col("doc_id_b").alias(id_col)))
            .distinct()
        )
        docs = docs.join(F.broadcast(_cd), id_col, "left_semi")
    inv = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("shingle"),
    )
    # the inverted index feeds 3-5 plan subtrees (sizes, df cap, both
    # self-join sides); materialize the tokenize+shingle explode once
    # instead of recomputing the string pipeline per subtree. Lazy
    # localCheckpoint: computed at first action, blocks released when
    # the frame is GC'd (no persist handle leaked to the caller).
    # Storage is O(index) — same order as the self-join's own shuffle
    # spill.
    inv = inv.localCheckpoint(eager=False)
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if max_shingle_df is not None:
        hot = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        inv = inv.join(F.broadcast(hot), "shingle", "left_anti")

    if candidates is None:
        inter = (
            inv.alias("l")
            .join(
                inv.alias("r"),
                (F.col("l.shingle") == F.col("r.shingle"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .groupBy(
                F.col("l.doc_id").alias("doc_id_a"),
                F.col("r.doc_id").alias("doc_id_b"),
            )
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        # verify only LSH survivors: semi-join the inverted index down
        # to candidate docs, then count shared shingles per pair.
        cand_docs = candidates.select(
            F.col("doc_id_a").alias("doc_id")
        ).union(candidates.select(F.col("doc_id_b").alias("doc_id"))).distinct()
        inv_c = inv.join(F.broadcast(cand_docs), "doc_id")
        inter = (
            inv_c.alias("l")
            .join(
                inv_c.alias("r"),
                (F.col("l.shingle") == F.col("r.shingle"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .groupBy(
                F.col("l.doc_id").alias("doc_id_a"),
                F.col("r.doc_id").alias("doc_id_b"),
            )
            .agg(F.count("*").alias("n_inter"))
            .join(candidates, ["doc_id_a", "doc_id_b"], "left_semi")
        )

    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a")),
            "doc_id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b")),
            "doc_id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def simhash_signatures(
    docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """63-bit SimHash (positive signed long) from md5 token hashes.

    bit b = sign of sum over tokens of (+1 if hash bit b set else -1),
    where the 63 hash bits are the two 32-bit integer halves of the
    md5 hex digest (bits 0-31 from chars 1-8, bits 32-62 from chars
    9-16). md5 rather than xxhash64 deliberately: identical digests in
    DuckDB make the full 63-bit pair set oracle-checkable, and the
    per-token cost difference is dwarfed by the 63 signed sums.

    Shape: explode(tokens) -> groupBy(doc).agg(63 signed sums) -> fold
    bits into one long. Map-side combine keeps the shuffle at one row
    per doc per partition.
    """
    h = F.md5("t")
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    # the 63 per-bit sums and the bit fold are SQL text: one py4j call
    # per expression instead of one per Column operator
    aggs = [
        F.expr(
            f"sum(CASE WHEN ({'h1' if b < 32 else 'h2'} & {1 << (b % 32)}L)"
            f" != 0 THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(63)
    ]
    sums = ex.groupBy("doc_id").agg(*aggs)
    sig = F.expr(
        "0L"
        + "".join(f" | CASE WHEN b{b} > 0 THEN {1 << b}L ELSE 0L END" for b in range(63))
    )
    return sums.select("doc_id", sig.alias("sig"))


def _simhash_chunk_spans(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Partition ``bits`` signature bits into ``n_chunks`` contiguous
    (offset, width) spans; widths differ by at most one bit."""
    base, rem = divmod(bits, n_chunks)
    spans, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        spans.append((off, w))
        off += w
    return spans


def _simhash_block_rows(
    sig: "DataFrame", bits: int, n_chunks: int, max_hamming: int
) -> "DataFrame":
    """Explode (doc_id, sig) into (doc_id, sig, block_id, block_key)
    rows for exact Hamming-distance blocking.

    Split the signature into ``n_chunks`` spans. A pair within
    ``max_hamming`` has errors in at most ``max_hamming`` chunks, so it
    agrees exactly on every chunk of some (n_chunks - max_hamming)-
    subset — block keys are all C(n_chunks, n_chunks - max_hamming)
    such subsets, each packed into one long (chunk values OR'd into
    disjoint bit ranges). With n_chunks = max_hamming + 1 this is the
    classic single-chunk pigeonhole; larger n_chunks trades more keys
    per doc (C(n, n-t) exploded rows) for much wider keys, i.e. far
    smaller buckets.

    Sizing the knob (exact blocking — recall is always 100%; this is
    purely a candidate-volume dial): expected candidate volume per
    block family is ~ n_docs^2 / 2^key_bits. At 10^9 docs the classic
    max_hamming=3 choices collapse — 4 chunks of 8 bits (32-bit sig)
    put ~4M docs in a bucket; 4x16 bits (64-bit) still ~15k. The
    defaults below (n_chunks=6 -> 20 blocks of ~half the signature
    each: ~32 key bits at 64-bit, ~16 at 32-bit) keep buckets sparse
    at crawl scale; push n_chunks up (more, wider-coverage blocks)
    as the corpus grows, or down to cut the explode factor for small
    corpora.
    """
    if not 1 <= n_chunks <= bits:
        raise ValueError(f"n_chunks must be in [1, {bits}], got {n_chunks}")
    if max_hamming >= n_chunks:
        raise ValueError(
            f"pigeonhole blocking requires max_hamming < n_chunks "
            f"(got max_hamming={max_hamming}, n_chunks={n_chunks}); "
            "violating it silently drops true near-dup pairs"
        )
    spans = _simhash_chunk_spans(bits, n_chunks)
    agree = n_chunks - max_hamming

    # one SQL expression for all block keys (one py4j call, not one
    # per Column operator)
    blocks = []
    for bid, combo in enumerate(combinations(range(n_chunks), agree)):
        key = "0L"
        shift = 0
        for c in combo:
            off, w = spans[c]
            key += (
                f" | shiftleft(shiftrightunsigned(sig, {off})"
                f" & {(1 << w) - 1}L, {shift})"
            )
            shift += w
        blocks.append(f"named_struct('block_id', {bid}, 'block_key', {key})")
    return sig.select(
        "doc_id", "sig", F.expr(f"explode(array({', '.join(blocks)}))").alias("b")
    ).select("doc_id", "sig", "b.block_id", "b.block_key")


def _simhash_candidate_pairs(rows: "DataFrame") -> "DataFrame":
    """Equi-join block rows into distinct candidate (a, b, sig_a,
    sig_b) pairs with a < b."""
    return (
        rows.alias("l")
        .join(
            rows.alias("r"),
            (F.col("l.block_id") == F.col("r.block_id"))
            & (F.col("l.block_key") == F.col("r.block_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .distinct()
    )


def simhash_pairs(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 6,
) -> "DataFrame":
    """Near-dup pairs by SimHash Hamming distance with exact
    combination blocking (see :func:`_simhash_block_rows` for the
    guarantee and the n_chunks sizing guidance) over the 63-bit
    xxhash64 signature, Hamming verified by bit_count(xor).
    """
    sig = simhash_signatures(docs, id_col, text_col)
    rows = _simhash_block_rows(sig, 63, n_chunks, max_hamming)
    return (
        _simhash_candidate_pairs(rows)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


_HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash32_signatures(
    docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Engine-portable 32-bit SimHash: bit b = sign of the sum over
    tokens of (+1 if the high bit of md5-hex nibble b is set else -1).

    Same explode -> groupBy(doc) -> 32 signed sums shape as the
    xxhash64 production variant (map-side combine, one shuffle row per
    doc per partition), but md5-based so the DuckDB oracle reproduces
    the identical signature. Integer arithmetic only — no float-order
    concerns.
    """
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).select("doc_id", F.md5("t").alias("h"))
    high = ", ".join(f"'{c}'" for c in _HEX_HIGH)
    aggs = [
        F.expr(
            f"sum(CASE WHEN substring(h, {b + 1}, 1) IN ({high})"
            f" THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(32)
    ]
    sums = ex.groupBy("doc_id").agg(*aggs)
    sig = F.expr(
        "0L"
        + "".join(f" + CASE WHEN b{b} > 0 THEN {1 << b}L ELSE 0L END" for b in range(32))
    )
    return sums.select("doc_id", sig.alias("sig"))


def simhash32_pairs(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 6,
) -> "DataFrame":
    """Oracle-checkable SimHash near-dup pairs: 32-bit portable md5
    signatures + the same exact combination blocking as simhash_pairs
    (see :func:`_simhash_block_rows`), Hamming verified by
    bit_count(xor). Blocking is exact, so the output pair set is
    independent of n_chunks — the DuckDB oracle may use any valid
    blocking (it uses the classic single-chunk pigeonhole) and still
    match hash-for-hash."""
    sig = simhash32_signatures(docs, id_col, text_col)
    rows = _simhash_block_rows(sig, 32, n_chunks, max_hamming)
    return (
        _simhash_candidate_pairs(rows)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def near_dup_clusters(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> "DataFrame":
    """End-to-end near-dup RESOLUTION — the step every dedup pipeline
    runs after pair finding: MinHash-LSH candidate pairs ->
    undirected connected components over the pair graph -> canonical
    (min-id) representative per cluster. Output: one row per input
    document, ``(doc_id, cluster_id, keep)`` — singletons are their
    own cluster, ``keep`` marks the one document per cluster that
    survives dedup (filter on it to materialize the deduplicated
    corpus).

    Scale shape: the component fixpoint runs ONLY over documents that
    appear in at least one candidate pair — at crawl scale the vast
    (singleton) majority of the corpus never enters the iterative
    loop; it joins back in one final left join against the (small)
    label frame, which AQE converts to a broadcast join when it fits.
    """
    from .graph import connected_components

    # the pair list fans out three ways (nodes, edges, and the
    # component rounds' lineage) — materialize the whole LSH derivation
    # once instead of recomputing signatures + band join per consumer
    # (best-of-3 12.3 -> 7.1 s at sf0.1; the pair list itself is tiny)
    pairs = minhash_lsh_pairs(
        docs, id_col, text_col, num_hashes, bands, k
    ).localCheckpoint()
    nodes = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .union(pairs.select("doc_id_b"))
        .distinct()
    )
    edges = pairs.select(
        F.col("doc_id_a").alias("subj"), F.col("doc_id_b").alias("obj")
    )
    comp = connected_components(nodes, edges, id_col="doc_id").select(
        "doc_id", F.col("comp").alias("_comp")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_comp"), F.col("doc_id")).alias("cluster_id"),
            (
                F.col("doc_id")
                == F.coalesce(F.col("_comp"), F.col("doc_id"))
            ).alias("keep"),
        )
    )


# Karp-Rabin polynomial hash constants for winnowing — mirrored in
# plans/queries.sql_winnow_fingerprints; change both sides together.
_WIN_B = 131
_WIN_M = 2147483647


def winnow_fingerprints(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> "DataFrame":
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the standard local document fingerprinting scheme,
    the brief's "document fingerprinting (rolling hash)" family):
    hash every character ``k``-gram of the normalized text, slide a
    ``window`` over consecutive gram hashes, keep the minimum of each
    window, emit the distinct minima as the document's fingerprint
    set. Guarantees every shared substring of length >= k + window - 1
    between two documents yields a shared fingerprint.

    The gram hash is the paper's own Karp-Rabin polynomial,
    ``sum(cp[i+j] * B^(k-1-j)) mod M`` over byte-folded code points
    (``ord % 256``), with ``B`` = `_WIN_B` and ``M`` = `_WIN_M` —
    pure integer arithmetic, so it is engine-portable (DuckDB replays
    it with ord/list arithmetic; the constants are mirrored in
    sql_winnow_fingerprints — change both sides together) and ~4x
    faster than the earlier md5-per-gram variant (no digest, no hex
    parse; measured 14.4 -> 3.6 s at sf0.1). Entirely scan-side array
    expressions (transform / slice / array_min / array_distinct /
    explode) — zero shuffles, no UDF; docs shorter than ``k``
    characters produce no fingerprints.

    The code-point and gram arrays are each materialized in their own
    projection so downstream lambdas reference bound attributes:
    splicing the expressions through would re-evaluate all n elements
    at every position (O(n^2) work per document; CollapseProject keeps
    the projections separate because the aliases are non-cheap and
    referenced n times).
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    # largest term is 255 * B^(k-1); the k-term sum must fit a long
    if 255 * _WIN_B ** (k - 1) * k >= 2**63:
        raise ValueError(f"k={k} overflows the 64-bit polynomial hash")
    txt = norm_text(F.col(text_col))
    cps = F.transform(
        F.sequence(F.lit(1), F.length(F.col("_txt"))),
        lambda i: F.pmod(
            F.ascii(F.substr(F.col("_txt"), i, F.lit(1))), F.lit(256)
        ).cast("long"),
    )
    staged_cps = docs.select(
        F.col(id_col).alias("doc_id"), txt.alias("_txt")
    ).select("doc_id", cps.alias("_cps"))
    c = F.col("_cps")

    def _gram(i):
        expr = None
        for j in range(k):
            term = F.element_at(c, (i + F.lit(j)).cast("int")) * F.lit(
                _WIN_B ** (k - 1 - j)
            )
            expr = term if expr is None else expr + term
        return F.pmod(expr, F.lit(_WIN_M))

    n_grams = F.size(c) - (k - 1)
    grams = F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), _gram)
    ).otherwise(F.array().cast("array<long>"))
    staged = staged_cps.select("doc_id", grams.alias("_grams"))
    g = F.col("_grams")
    mins = F.transform(
        F.sequence(F.lit(1), F.size(g) - (window - 1)),
        lambda i: F.array_min(F.slice(g, i, window)),
    )
    return staged.select(
        "doc_id",
        F.explode(
            F.when(F.size(g) >= window, F.array_distinct(mins)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("fingerprint"),
    )


def span_dedup(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 10,
) -> "DataFrame":
    """C4-style sub-document exact dedup: chop each document's
    normalized token stream into consecutive non-overlapping
    ``span_words``-word spans and keep only the FIRST occurrence of
    each distinct span corpus-wide (first = min (doc_id, span_no) in
    lexicographic order). Output: one row per span,
    ``(doc_id, span_no, span_digest, keep)`` — filtering on ``keep``
    and re-concatenating by span_no materializes the span-deduplicated
    corpus. The trailing short span (< span_words words) is kept as its
    own unit so no text is silently dropped.

    Scale shape: span chopping is a scan-side array expression; the
    only shuffle is the groupBy on the span digest (map-side combined —
    boilerplate spans repeated across millions of pages reduce to one
    row per map task before the exchange), then the winner frame joins
    back on the digest. No windows over the corpus, no driver state.
    """
    if span_words < 1:
        raise ValueError("span_words must be >= 1")
    toks = tokens(F.col(text_col))
    n_spans = F.ceil(F.size(toks) / F.lit(span_words)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * span_words + 1, span_words)
        ),
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.when(n_spans >= 1, spans).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("span_no", "_span"),
    ).select(
        "doc_id",
        F.col("span_no").cast("long").alias("span_no"),
        F.md5(F.col("_span")).alias("span_digest"),
    )
    winners = exploded.groupBy("span_digest").agg(
        F.min(F.struct("doc_id", "span_no")).alias("_w")
    )
    return exploded.join(winners, "span_digest").select(
        "doc_id",
        "span_no",
        "span_digest",
        (
            (F.col("doc_id") == F.col("_w.doc_id"))
            & (F.col("span_no") == F.col("_w.span_no"))
        ).alias("keep"),
    )


def curate_documents(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_u: int = 300_000,
    langs: tuple[str, ...] = ("en",),
) -> "DataFrame":
    """Composite training-data curation: language filter + quality
    floor + exact dedup (keep min doc_id per content digest).

    One scan computes the filters (codegen'd exprs); the dedup groupBy
    is the only shuffle. Output: surviving doc ids + their stats.
    """
    from ..functions.text import lang_id, quality_score_u

    col = F.col(text_col)
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        lang_id(col).alias("lang_pred"),
        quality_score_u(col).alias("quality_u"),
        doc_digest(col).alias("digest"),
    ).filter(
        (F.col("quality_u") >= min_quality_u) & F.col("lang_pred").isin(*langs)
    )
    w_min = scored.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_dups"),
    )
    return w_min.join(scored, ["digest", "doc_id"]).select(
        "doc_id", "lang_pred", "quality_u", "digest", "n_dups"
    )


def containment_pairs(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_u: int = 500_000,
    scale: int = 1_000_000,
    max_shingle_df: int | None = None,
    candidates: "DataFrame | None" = None,
    max_docs_uncapped: int | None = 20_000,
) -> "DataFrame":
    """(doc_id_a, doc_id_b, containment_u): DIRECTED shingle
    containment C(A in B) = |S(A) ∩ S(B)| div |S(A)| in micro-units —
    the partial-copy detector (a short doc quoted inside a long one)
    that symmetric Jaccard structurally misses when sizes differ
    (C = 1.0 can coexist with Jaccard ~ |A|/|B| ~ 0).

    Shape mirrors ngram_jaccard_pairs: one distinct-shingle inverted
    index, ONE undirected self-join intersection count, then both
    directions derived from the same count by dividing by each side's
    shingle-set size (integer div — exact, fold-order-free).
    ``max_shingle_df`` caps boilerplate shingles exactly as in the
    Jaccard path; at corpus scale pass ``candidates`` (doc_id_a <
    doc_id_b pairs, e.g. MinHash-LSH survivors) so only candidate
    pairs pay the intersection count. Like ngram_jaccard_pairs, the
    UNCAPPED all-pairs path refuses to run above ``max_docs_uncapped``
    documents — the misuse is impossible, not documented away.
    """
    if (
        candidates is None
        and max_shingle_df is None
        and max_docs_uncapped is not None
    ):
        n = docs.limit(max_docs_uncapped + 1).count()
        if n > max_docs_uncapped:
            raise ValueError(
                f"containment_pairs: uncapped all-pairs over more than "
                f"{max_docs_uncapped} docs — pass candidates (LSH "
                "survivors), set max_shingle_df, or explicitly disable "
                "the guard with max_docs_uncapped=None."
            )
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias(
            "shingle"
        ),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # the inverted index feeds sizes + BOTH sides of the self-join —
    # materialize it once (lazy, same pattern as the Jaccard-LSH index)
    sh = sh.localCheckpoint(eager=False)
    inter = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("id_lo"),
            F.col("r.doc_id").alias("id_hi"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    if candidates is not None:
        cand = candidates.select(
            F.col("doc_id_a").alias("id_lo"), F.col("doc_id_b").alias("id_hi")
        ).distinct()
        inter = inter.join(cand, ["id_lo", "id_hi"])
    with_sizes = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("id_lo"), F.col("n_sh").alias("n_lo")
            ),
            "id_lo",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_hi"), F.col("n_sh").alias("n_hi")
            ),
            "id_hi",
        )
    )
    # both direction branches of the union reference with_sizes — the
    # checkpoint stops the whole intersection join running twice
    # (best-of-3 9.2 -> 6.3 s at sf0.1; pair rows only, tiny)
    with_sizes = with_sizes.localCheckpoint(eager=False)
    directed = with_sizes.select(
        F.col("id_lo").alias("doc_id_a"),
        F.col("id_hi").alias("doc_id_b"),
        F.expr(f"(n_inter * {scale}) div n_lo").alias("containment_u"),
    ).unionByName(
        with_sizes.select(
            F.col("id_hi").alias("doc_id_a"),
            F.col("id_lo").alias("doc_id_b"),
            F.expr(f"(n_inter * {scale}) div n_hi").alias("containment_u"),
        )
    )
    return directed.filter(F.col("containment_u") >= threshold_u).select(
        "doc_id_a",
        "doc_id_b",
        F.col("containment_u").cast("long").alias("containment_u"),
    )


def cdc_chunks(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    divisor: int = 64,
) -> "DataFrame":
    """(doc_id, chunk_no, chunk_len, chunk_hash): content-defined
    chunking (LBFS/rsync-style): cut the normalized text after every
    position whose trailing ``window``-char Karp-Rabin hash is
    divisible by ``divisor`` (expected chunk length ~= divisor chars).
    Because boundaries depend only on LOCAL content, an insertion
    early in a document shifts at most one chunk — every later chunk
    re-aligns and deduplicates against the previous crawl of the same
    page, which is what byte-offset chunking can never do. This is the
    sub-document twin of span_dedup (word spans) at byte granularity —
    the storage/dedup layer's chunk table.

    Stateless variant (no min/max chunk clamp): the boundary rule is a
    pure per-position predicate, so both engines replay it exactly and
    the whole operator stays scan-side array code — zero shuffles, no
    UDF. Reuses the winnowing polynomial (`_WIN_B`/`_WIN_M`, mirrored
    in plans/queries.sql_cdc_dup_chunks — change both together).
    """
    if window < 1 or divisor < 1:
        raise ValueError("window and divisor must be >= 1")
    if 255 * _WIN_B ** (window - 1) * window >= 2**63:
        raise ValueError(f"window={window} overflows the polynomial hash")
    txt = norm_text(F.col(text_col))
    cps = F.transform(
        F.sequence(F.lit(1), F.length(F.col("_txt"))),
        lambda i: F.pmod(
            F.ascii(F.substr(F.col("_txt"), i, F.lit(1))), F.lit(256)
        ).cast("long"),
    )
    staged_cps = docs.select(
        F.col(id_col).alias("doc_id"), txt.alias("_txt")
    ).select("doc_id", "_txt", cps.alias("_cps"))
    c = F.col("_cps")

    def _gram(i):
        expr = None
        for j in range(window):
            term = F.element_at(c, (i + F.lit(j)).cast("int")) * F.lit(
                _WIN_B ** (window - 1 - j)
            )
            expr = term if expr is None else expr + term
        return F.pmod(expr, F.lit(_WIN_M))

    n_grams = F.size(c) - (window - 1)
    grams = F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), _gram)
    ).otherwise(F.array().cast("array<long>"))
    staged = staged_cps.select("doc_id", "_txt", grams.alias("_grams"))
    g = F.col("_grams")
    # cut AFTER text position (i + window - 1) when gram i hits 0 mod D
    cuts = F.transform(
        F.filter(
            F.sequence(F.lit(1), F.size(g)),
            lambda i: F.pmod(F.element_at(g, i.cast("int")), F.lit(divisor))
            == 0,
        ),
        lambda i: (i + F.lit(window - 1)).cast("long"),
    )
    # drop a cut that coincides with the end of the text instead of
    # array_distinct: keeps the bounds construction order-oblivious on
    # both engines
    txt_len = F.length(F.col("_txt")).cast("long")
    bounds = F.concat(
        F.array(F.lit(0).cast("long")),
        F.when(
            F.size(g) >= 1, F.filter(cuts, lambda c: c < txt_len)
        ).otherwise(F.array().cast("array<long>")),
        F.array(txt_len),
    )
    staged_b = staged.select("doc_id", "_txt", bounds.alias("_bounds"))
    b = F.col("_bounds")
    chunk = F.transform(
        F.sequence(F.lit(1), F.size(b) - 1),
        lambda j: F.struct(
            j.cast("long").alias("chunk_no"),
            F.substr(
                F.col("_txt"),
                (F.element_at(b, j.cast("int")) + 1).cast("int"),
                (
                    F.element_at(b, (j + 1).cast("int"))
                    - F.element_at(b, j.cast("int"))
                ).cast("int"),
            ).alias("chunk"),
        ),
    )
    out = staged_b.select(
        "doc_id", F.explode(chunk).alias("ch")
    ).select(
        "doc_id",
        F.col("ch.chunk_no").alias("chunk_no"),
        F.length("ch.chunk").cast("long").alias("chunk_len"),
        F.md5("ch.chunk").alias("chunk_hash"),
    )
    return out.where(F.col("chunk_len") > 0)


def dup_span_islands(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> "DataFrame":
    """Exact repeated-substring spans across the corpus (the
    dedup-maximal-substrings step of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    there built with a suffix array; here re-expressed relationally):
    every word ``k``-gram occurrence that is NOT the corpus-first
    occurrence of that gram is a removable position, and runs of
    consecutive removable positions merge (gaps-and-islands) into
    MAXIMAL duplicated spans — so a 200-token verbatim quote shared by
    two pages surfaces as ONE (start, end) span, not 193 k-grams, and
    unlike :func:`span_dedup`'s fixed non-overlapping windows the span
    is found at ANY alignment. Output: one row per maximal span,
    ``(doc_id, start_tok, end_tok, span_toks, n_dup_grams)``
    (0-based token offsets, end inclusive); deleting those token
    ranges and re-joining is the Lee-style deduplicated corpus.

    Scale shape: gram generation is scan-side array code; occurrence
    stats are a groupBy on the gram digest (map-side combined — a
    boilerplate gram repeated on millions of pages collapses to one
    row per map task, the same skew story as exact dedup) joined back
    on the digest (one row per gram on the build side; AQE skew-join
    splits hot probe keys). Island merging is a per-document window —
    partitioned by doc_id, never global. First = min (doc_id, pos)
    struct, the same corpus-wide keep rule as span_dedup.

    The inline plan scans the corpus twice (the gram frame feeds both
    the stats aggregate and the join probe). At crawl scale you do
    not recompute it: the (doc_id, pos, gram) table IS the substring
    ledger a continuous pipeline persists between crawls — new docs
    append their grams, stats update incrementally, and old corpora
    are never re-tokenized (the same persisted-signature shape as
    minhash_lsh_pairs_incremental). The registered query keeps the
    self-contained two-scan form because it is oracle-replayable
    end-to-end.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k))).alias(
                            "gram"
                        ),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    stats = grams.groupBy("gram").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).alias("first_occ"),
    )
    dups = (
        grams.join(stats.filter(F.col("n_occ") >= 2), "gram")
        .filter(
            ~(
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("pos") == F.col("first_occ.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dups.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("start_tok"),
        (F.max("pos") + F.lit(k - 1)).alias("end_tok"),
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_toks"),
        F.count("*").alias("n_dup_grams"),
    ).drop("grp")


def nfc_dedup(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Unicode-normalization-aware exact dedup: one row per distinct
    NFC-normalized content — canonical (min) id + duplicate count,
    the same single-digest-shuffle shape as :func:`exact_dedup`. Real
    crawl text mixes composed and decomposed forms of the same
    visible string (editors, OSes and CMSes disagree), and byte-level
    md5 treats them as distinct documents; digesting
    ``NFC(text)`` (functions/text.nfc_digest) closes that hole.

    Spark has no codegen NFC, so the digest runs in an Arrow
    ``mapInPandas`` pass (the repo's only Python execution mode) —
    embarrassingly parallel, column-pruned, zero shuffle; the only
    exchange is the map-side-combined digest groupBy.
    """
    from pyspark.sql import types as T

    from ..functions.text import nfc_digest
    from .rows import map_rows

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("digest", T.StringType(), False),
        ]
    )

    return (
        map_rows(
            docs, [id_col, text_col],
            lambda doc_id, text: [(int(doc_id), nfc_digest(text))], schema,
        )
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def bloom_ingest_gate(
    new_docs: "DataFrame",
    old_docs: "DataFrame",
    m: int = 4096,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """(doc_id, bloom_hit, is_new): incremental-ingest dedup gate — a
    new crawl batch checked against the PREVIOUS corpus snapshot
    without ever shuffling the old corpus into the job.

    The old snapshot is summarized once as a Bloom filter over content
    digests (md5 of normalized coalesce(text, '')) — m bits of plan
    metadata, built by :func:`..layout.bloom_build`'s md5 family and
    shipped as literal mask words. New docs then split scan-side:
    bloom-negative rows are DEFINITELY new (no false negatives) and
    never touch a join; only the bloom-positive minority pays the
    exact verification join against the old digest set, which clears
    false positives. This is the continuous-crawl shape: at 100 TB the
    old corpus contributes one digest-build pass (amortized across
    batches — persist the digest table) and a constant-size mask;
    per-batch cost is a scan plus a join sized to the TRUE-dup rate
    + the filter's false-positive rate, not to the corpus.

    NULL and empty text share a digest (coalesce) — a gate decision,
    unlike :func:`exact_dedup` which keeps NULL distinct. The mask
    collect is bounded at m positions (plan metadata, like the
    k-means centroids and bloom_prune mask).
    """
    dig = F.md5(norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    from .layout import bloom_build, bloom_mask_words, bloom_member

    old_d = old_docs.select(dig.alias("dig")).distinct()
    positions = [r.pos for r in bloom_build(old_d, "dig", m=m, k=k).collect()]
    mask = bloom_mask_words(positions, m=m)
    newd = new_docs.select(F.col(id_col).alias("doc_id"), dig.alias("dig"))
    flagged = newd.select(
        "doc_id", "dig", bloom_member(F.col("dig"), mask, m=m, k=k).alias("bloom_hit")
    )
    sure_new = flagged.where(~F.col("bloom_hit")).select(
        "doc_id", "bloom_hit", F.lit(True).alias("is_new")
    )
    verified = (
        flagged.where(F.col("bloom_hit"))
        .join(old_d.select("dig", F.lit(1).alias("_old")), "dig", "left")
        .select("doc_id", "bloom_hit", F.col("_old").isNull().alias("is_new"))
    )
    return sure_new.unionByName(verified)


def edit_distance_verify(
    docs: "DataFrame",
    candidates: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix: int = 256,
) -> "DataFrame":
    """(doc_id_a, doc_id_b, lev, sim_u): exact edit-distance
    verification of candidate near-dup pairs — the verify leg that
    turns banding RECALL into dedup PRECISION (the standard
    candidate-then-verify contract; cf. ngram_jaccard_lsh, which
    verifies with set Jaccard — Levenshtein additionally penalizes
    reorderings that shingle sets forgive).

    ``sim_u = floor((maxlen - lev) * 1e6 / maxlen)`` over the first
    ``prefix`` chars of each text (1_000_000 when both prefixes are
    empty). Levenshtein is O(prefix^2) PER PAIR, so it runs only on
    the bounded candidate set (banding already pruned the quadratic
    all-pairs space) and the prefix caps the per-pair cost — the two
    knobs that keep an O(n*m) string DP viable at corpus scale.

    Shape: two keyed joins of the slim (id, prefix) projection onto
    the candidate pairs, then pure JVM column work
    (``F.levenshtein`` is codegen'd; no Python). Both engines ship
    the same classic Levenshtein, so the oracle replays it natively.
    """
    if prefix < 1:
        raise ValueError(f"prefix must be >= 1, got {prefix}")
    t = docs.select(
        F.col(id_col),
        F.substring(
            F.coalesce(F.col(text_col), F.lit("")), 1, prefix
        ).alias("_p"),
    )
    a = t.select(F.col(id_col).alias("doc_id_a"), F.col("_p").alias("_pa"))
    b = t.select(F.col(id_col).alias("doc_id_b"), F.col("_p").alias("_pb"))
    lev = F.levenshtein("_pa", "_pb")
    mx = F.greatest(F.length("_pa"), F.length("_pb"))
    return (
        candidates.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            lev.cast("long").alias("lev"),
            F.when(mx == 0, F.lit(1_000_000))
            .otherwise(F.floor((mx - lev) * F.lit(1_000_000) / mx))
            .cast("long")
            .alias("sim_u"),
        )
    )
